package graft.catalog

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Versioned table catalog: every "table" is a directory `root/<step>/`
  * holding immutable versions `v=1, v=2, …`; the next version is max+1.
  *
  * Mirrors the reference's file catalog (arbirk/ETL-template
  * tools/tools.go:343-444, 492-511: `output/<step>/N.jsonl`, next =
  * max+1, latest = max, specific version = time travel), re-expressed
  * for Spark: a version is a directory written by a distributed job, not
  * a single file, and writes stage to a temp location then promote by
  * atomic rename — the same write-to-temp-then-promote shape as the
  * reference's `temp/` staging (etl.go:77-121), which also means a
  * failed job never publishes a partial version (tools.go K5 cleanup
  * semantics come free).
  *
  * All paths go through Hadoop [[FileSystem]], so the catalog works
  * unchanged on HDFS/S3/GCS at cluster scale; only the tiny version
  * listing is driver-side (one directory listing per resolve — no data
  * movement).
  *
  * @param format any DataFrameWriter format; default "json" = JSONL,
  *               the reference's wire format (one JSON object per line).
  * @param options reader AND writer options for the format (e.g.
  *                `Map("header" -> "true")` for a CSV catalog).
  */
final class VersionedCatalog(
    spark: SparkSession,
    root: String,
    format: String = "json",
    options: Map[String, String] = Map.empty) {

  private val rootPath = new Path(root)
  private def fs: FileSystem =
    rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def stepDir(step: String): Path = new Path(rootPath, step)
  private def versionDir(step: String, v: Int): Path =
    new Path(stepDir(step), s"v=$v")

  /** All committed versions of a step, ascending; empty if none. */
  def versions(step: String): Seq[Int] = {
    val dir = stepDir(step)
    if (!fs.exists(dir)) Seq.empty
    else
      fs.listStatus(dir).toSeq
        .filter(_.isDirectory)
        .map(_.getPath.getName)
        .collect { case s if s.startsWith("v=") => s.drop(2).toIntOption }
        .flatten
        .sorted
  }

  /** Highest committed version, if any (tools.go:392-430 semantics:
    * resolving a step with no versions is an error at read time). */
  def latestVersion(step: String): Option[Int] = versions(step).lastOption

  /** Next version to write: max+1, or 1 for a fresh step
    * (tools.go:343-366). */
  def nextVersion(step: String): Int = latestVersion(step).getOrElse(0) + 1

  /** Write `df` as the next version of `step`; returns the committed
    * version number. Stages to `root/.staging/` then renames into place,
    * so readers never observe a partially-written version.
    *
    * `partitionBy` lays the version out as hive-style directories
    * (`v=N/colA=x/...`): reads that filter on a partition column prune
    * whole directories at PLANNING time — at 100 TB this is the
    * difference between listing one source's files and scanning the
    * catalog. Partition columns come back appended at the END of the
    * schema on read, so `merge`/schema-checked callers should partition
    * on trailing columns or re-select. */
  def writeNext(step: String, df: DataFrame,
      partitionBy: Seq[String] = Seq.empty,
      epochTag: Option[Long] = None,
      extraOptions: Map[String, String] = Map.empty,
      statsCols: Seq[String] = Seq.empty): Int = {
    var v = nextVersion(step)
    val staging = new Path(
      new Path(rootPath, ".staging"),
      s"$step-${java.util.UUID.randomUUID()}")
    // Row count rides the write itself (an Observation on the plan —
    // zero extra jobs), so the manifest can record it without a second
    // pass over the data.
    val obs = org.apache.spark.sql.Observation()
    val w = df.observe(obs,
        org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("rows"))
      .write.mode(SaveMode.Overwrite).format(format)
      .options(options ++ extraOptions)
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w)
      .save(staging.toString)
    val rowCount = scala.util.Try(obs.get("rows").asInstanceOf[Long]) match {
      case scala.util.Success(n) => Some(n)
      case scala.util.Failure(e) =>
        VersionedCatalog.log.warn(
          s"catalog: row-count observation failed for $step " +
            s"(${e.getMessage}) - manifest will carry row_count=null")
        None
    }
    // The MANIFEST commits atomically WITH the version (written into
    // the staged directory before the promote rename): the file list +
    // sizes + row count let `read` resolve a version's data files in
    // ONE small-file read instead of an O(files) directory listing —
    // the object-store fix (eventually-consistent LIST, 10⁶-file
    // versions) — and pin the exact file SET a reader sees (the
    // snapshot-isolation hook). Underscore-prefixed, so every Spark
    // reader ignores it as data.
    writeManifest(staging, rowCount, partitionBy, statsCols)
    // An epoch tag is written INTO the staged directory before the
    // promote rename, so "version exists" and "epoch recorded" commit
    // in ONE atomic filesystem operation — the property additive
    // streaming folds need for exactly-once (a post-commit sidecar
    // marker leaves a crash window where the epoch replays and
    // double-adds; see runCatalogSketchSink). Underscore-prefixed AND
    // '='-free: Spark's file index hides "_"-files EXCEPT names
    // containing '=' (those parse as partition directories), so
    // `_epoch=N` would be read as data — `_epoch_N` is invisible to
    // every reader.
    epochTag.foreach { e =>
      fs.create(new Path(staging, s"_epoch_$e"), true).close()
    }
    // Promote under a CLAIM protocol rather than check-then-rename:
    // Hadoop rename moves src INTO an existing destination directory on
    // most filesystems, so two writers racing the same v=N would
    // silently nest one writer's data under the other's version — and a
    // bare exists-check before the rename leaves a TOCTOU window on a
    // real DFS. Instead, the version number is ARBITRATED before the
    // rename: only the writer that atomically creates `.claims/v=N`
    // (create with overwrite=false — an atomic namenode operation on
    // HDFS; object stores with conditional-put semantics match it; a
    // JVM-wide lock additionally serializes same-process writers, where
    // the local filesystem's create is check-then-act) may rename onto
    // v=N, so no two writers ever target the same version directory. A
    // loser — or a writer meeting a crash-orphaned claim — retries with
    // the next number, which merely skips it: version sequences may
    // carry gaps under concurrency, and every reader here resolves
    // versions by listing, never by arithmetic.
    var committed = -1
    var attempts = 0
    while (committed < 0) {
      attempts += 1
      if (attempts > 64)
        throw new IllegalStateException(
          s"catalog: could not claim a version for $step after 64 attempts " +
            "(runaway claim contention or a claim-dir permission problem)")
      val target = versionDir(step, v)
      if (claimVersion(step, v) && !fs.exists(target)) {
        fs.mkdirs(target.getParent)
        if (!fs.rename(staging, target))
          throw new IllegalStateException(
            s"catalog: failed to promote $staging -> $target")
        committed = v
      } else v += 1
    }
    committed
  }

  /** The per-version manifest file name — `_`-prefixed and `=`-free,
    * so it is invisible to every Spark file reader (same rule as the
    * epoch tags). */
  private val ManifestName = "_manifest.json"

  /** Relative paths (under `dir`) of the committed data files: every
    * regular file not `_`/`.`-prefixed, recursively (partitioned
    * layouts nest under key=value subdirectories). */
  private def listDataFiles(dir: Path): Seq[(String, Long)] = {
    def walk(d: Path, prefix: String): Seq[(String, Long)] =
      fs.listStatus(d).toSeq.flatMap { st =>
        val name = st.getPath.getName
        if (name.startsWith("_") || name.startsWith(".")) Seq.empty
        else if (st.isDirectory) walk(st.getPath, s"$prefix$name/")
        else Seq((s"$prefix$name", st.getLen))
      }
    walk(dir, "")
  }

  /** Per-file min/max of the integral `statsCols` over a staged
    * version — ONE column-pruned scan grouped by file (cheap next to
    * the write it follows; the Delta/Iceberg per-file-stats idea with
    * the stats computed post-write instead of inline). Non-integral
    * columns are skipped: the manifest stores int64 ranges only, so
    * numeric comparisons never go through strings. Returns
    * relative-file-name → col → (min, max); empty on any failure (the
    * stats are an optimization — a missing entry just isn't pruned). */
  private def fileKeyRanges(staging: Path,
      statsCols: Seq[String]): Map[String, Map[String, (Long, Long)]] = {
    import org.apache.spark.sql.functions.{col, input_file_name, max, min}
    if (statsCols.isEmpty) return Map.empty
    try {
      val df = reader(None).load(staging.toString)
      val integral = Set("tinyint", "smallint", "int", "bigint")
      val cols = statsCols.filter(c =>
        df.schema.fields.exists(f =>
          f.name == c && integral(f.dataType.simpleString)))
      if (cols.isEmpty) return Map.empty
      val prefix = fs.getFileStatus(staging).getPath.toUri.getPath
      df.groupBy(input_file_name().as("_file"))
        .agg(min(col(cols.head).cast("long")).as(s"mn_${cols.head}"),
          (cols.tail.map(c => min(col(c).cast("long")).as(s"mn_$c")) ++
            cols.map(c => max(col(c).cast("long")).as(s"mx_$c"))): _*)
        .collect()
        .flatMap { r =>
          val uri = new java.net.URI(r.getString(0)).getPath
          val idx = uri.indexOf(prefix)
          if (idx < 0) None
          else {
            val rel = uri.substring(idx + prefix.length).stripPrefix("/")
            val m = cols.flatMap { c =>
              val mn = r.getAs[Any](s"mn_$c")
              val mx = r.getAs[Any](s"mx_$c")
              if (mn == null || mx == null) None
              else Some(c -> (mn.asInstanceOf[Long], mx.asInstanceOf[Long]))
            }.toMap
            if (m.isEmpty) None else Some(rel -> m)
          }
        }.toMap
    } catch {
      case scala.util.control.NonFatal(e) =>
        VersionedCatalog.log.warn(
          s"catalog: file-stats pass failed for $staging (${e.getMessage}) " +
            "- manifest will carry no key ranges")
        Map.empty
    }
  }

  /** Write `_manifest.json` into a staged version directory (see
    * [[writeNext]]). Minimal hand-rolled JSON — names are part-file
    * names and hive `key=value` dirs; quotes/backslashes cannot occur
    * in either, and the escape covers them anyway. With `statsCols`,
    * each file entry also records per-file int64 min/max key ranges
    * ([[fileKeyRanges]]) so [[readRange]] can prune FILES at planning
    * time, before any parquet footer is opened. */
  private def writeManifest(staging: Path, rowCount: Option[Long],
      partitionBy: Seq[String], statsCols: Seq[String] = Seq.empty): Unit = {
    def esc(s: String) = s.replace("\\", "\\\\").replace("\"", "\\\"")
    val files = listDataFiles(staging)
    val ranges = fileKeyRanges(staging, statsCols)
    val fileArr = files.map { case (n, b) =>
      val stats = ranges.get(n).filter(_.nonEmpty).fold("") { m =>
        val mins = m.toSeq.sortBy(_._1)
          .map { case (c, (mn, _)) => s""""${esc(c)}":$mn""" }
          .mkString("{", ",", "}")
        val maxs = m.toSeq.sortBy(_._1)
          .map { case (c, (_, mx)) => s""""${esc(c)}":$mx""" }
          .mkString("{", ",", "}")
        s""","mins":$mins,"maxs":$maxs"""
      }
      s"""{"name":"${esc(n)}","bytes":$b$stats}"""
    }.mkString("[", ",", "]")
    val json =
      s"""{"format":"${esc(format)}","n_files":${files.length},""" +
        s""""total_bytes":${files.map(_._2).sum},""" +
        s""""row_count":${rowCount.fold("null")(_.toString)},""" +
        s""""partition_by":${partitionBy.map(c => s""""${esc(c)}"""")
          .mkString("[", ",", "]")},""" +
        s""""files":$fileArr}"""
    val out = fs.create(new Path(staging, ManifestName), true)
    try out.write(json.getBytes("UTF-8")) finally out.close()
  }

  /** The committed manifest of a version, parsed, if one exists
    * (versions written before manifests were introduced have none —
    * every reader falls back to directory listing). */
  def manifest(step: String, version: Int): Option[CatalogManifest] = {
    val p = new Path(versionDir(step, version), ManifestName)
    try {
      if (!fs.exists(p)) None
      else {
        val in = fs.open(p)
        val text =
          try scala.io.Source.fromInputStream(in, "UTF-8").mkString
          finally in.close()
        val parsed = CatalogManifest.parse(text)
        // A manifest that EXISTS but fails to parse is corruption, not
        // a pre-manifest version — make the silent degradation to
        // O(files) listing observable.
        if (parsed.isEmpty)
          VersionedCatalog.log.warn(
            s"catalog: manifest at $p exists but failed to parse " +
              "(falling back to directory listing)")
        parsed
      }
    } catch {
      // an UNREADABLE manifest (checksum mismatch, truncated write,
      // permission skew) degrades to the directory-listing path the
      // same way a malformed one does — the manifest is an
      // optimization, never a single point of failure for reads
      case e: java.io.IOException =>
        VersionedCatalog.log.warn(
          s"catalog: manifest at $p unreadable (${e.getMessage}) " +
            "- falling back to directory listing")
        None
    }
  }

  private def claimDir(step: String): Path = new Path(stepDir(step), ".claims")

  /** Atomically claim version `v` of `step` for this writer; false if
    * any writer (this process or another job) holds it. The claim file
    * is the ONLY arbiter [[writeNext]] trusts before renaming onto
    * `v=N`, so its creation must be atomic: `create(overwrite=false)`
    * is a single namenode op on HDFS, and the process-wide lock covers
    * same-JVM racers on filesystems whose create is check-then-act
    * (the local FS). Claims are never deleted while their version is
    * retained — [[vacuum]] drops them with the version. */
  private def claimVersion(step: String, v: Int): Boolean =
    VersionedCatalog.claimLock.synchronized {
      try {
        fs.create(new Path(claimDir(step), s"v=$v"), false).close()
        true
      } catch { case _: java.io.IOException => false }
    }

  /** Write the next version range-partitioned AND sorted by `cols` into
    * `numFiles` files: each file holds a contiguous, disjoint key range,
    * so parquet min/max stats let selective scans skip whole files and
    * row groups (the sort-layout half of data clustering; pair with
    * `partitionBy` for the directory half). One range-exchange + local
    * sort at write time buys every later selective read. */
  def writeNextSorted(step: String, df: DataFrame,
      cols: Seq[String], numFiles: Int,
      rowGroupBytes: Option[Long] = None): Int = {
    import org.apache.spark.sql.functions.col
    writeNext(step, df.repartitionByRange(numFiles, cols.map(col): _*)
      .sortWithinPartitions(cols.map(col): _*),
      extraOptions = clusteredParquetOptions(cols, rowGroupBytes),
      statsCols = cols)
  }

  /** Parquet footer options for a key-clustered write: BLOOM FILTERS on
    * the cluster keys (point lookups skip row groups whose min/max
    * straddle the probe — high-cardinality keys under range layout) and
    * an optional row-group size (smaller groups = finer min/max
    * pruning granularity for selective reads; leave None for the
    * format default). No-ops for non-parquet catalogs. */
  private def clusteredParquetOptions(cols: Seq[String],
      rowGroupBytes: Option[Long]): Map[String, String] =
    if (format != "parquet") Map.empty
    else cols.map(c => s"parquet.bloom.filter.enabled#$c" -> "true").toMap ++
      rowGroupBytes.map(b => "parquet.block.size" -> b.toString)

  /** Write the next version Z-ORDER clustered on two non-negative int
    * key columns: rows sort by the Morton-interleaved key, so each file
    * covers a bounded rectangle of the (colA, colB) plane and parquet
    * min/max stats prune selective reads on EITHER column —
    * [[writeNextSorted]] can only serve its leading column. Same one
    * range-exchange + local-sort write cost. */
  def writeNextZOrdered(step: String, df: DataFrame,
      colA: String, colB: String, numFiles: Int,
      rowGroupBytes: Option[Long] = None): Int = {
    import org.apache.spark.sql.functions.col
    // pick a temp sort-key name that cannot shadow (and then silently
    // drop) a user column of the same name
    val zcol = Iterator.from(0).map(i => s"_z$i")
      .dropWhile(df.columns.contains).next()
    val z = graft.functions.VectorFunctions.interleaveBits(
      col(colA).cast("long"), col(colB).cast("long"))
    writeNext(step, df.withColumn(zcol, z)
      .repartitionByRange(numFiles, col(zcol))
      .sortWithinPartitions(col(zcol))
      .drop(zcol),
      extraOptions = clusteredParquetOptions(Seq(colA, colB), rowGroupBytes),
      // each file covers a bounded Morton rectangle, so per-column
      // min/max prune on EITHER key
      statsCols = Seq(colA, colB))
  }

  /** Read a specific committed version (time travel; tools.go:593-604).
    *
    * Resolves the data files VIA THE MANIFEST when one exists: the
    * exact committed file set feeds the reader directly (no O(files)
    * directory listing — the object-store path — and no window where a
    * concurrent writer's stray file could widen the snapshot);
    * `basePath` keeps hive partition columns parsing for partitioned
    * versions. Manifest-less versions (pre-manifest commits, foreign
    * directories) fall back to the directory scan unchanged. */
  def read(step: String, version: Int, schema: Option[StructType] = None): DataFrame = {
    val dir = versionDir(step, version)
    if (!fs.exists(dir))
      throw new NoSuchElementException(s"catalog: $step has no version $version under $root")
    manifest(step, version) match {
      case Some(m) if m.files.nonEmpty =>
        val paths = m.files.map { case (n, _) => new Path(dir, n).toString }
        reader(schema).option("basePath", dir.toString).load(paths: _*)
      case _ => reader(schema).load(dir.toString)
    }
  }

  /** Read a committed version restricted to `lo <= key <= hi`,
    * pruning FILES at planning time from the manifest's per-file key
    * ranges — the Delta/Iceberg data-skipping step BEFORE parquet
    * footers: only files whose [min, max] overlaps the probe range are
    * handed to the reader at all (files without recorded stats are
    * kept — stats are an optimization, never a correctness filter).
    * The key predicate is applied on top regardless, so the result is
    * exactly `read(...).filter(lo <= key <= hi)` whether or not
    * anything pruned; [[writeNextSorted]]/[[writeNextZOrdered]] write
    * disjoint ranges by construction, so a point read opens one file.
    * At 100 TB this is the difference between "open 10⁶ footers to
    * skip them" and "open the 3 files that can match". */
  def readRange(step: String, version: Int, key: String,
      lo: Long, hi: Long, schema: Option[StructType] = None): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val dir = versionDir(step, version)
    if (!fs.exists(dir))
      throw new NoSuchElementException(s"catalog: $step has no version $version under $root")
    val base = manifest(step, version) match {
      case Some(m) if m.files.nonEmpty =>
        val surviving = m.files.collect {
          case (n, _) if m.stats.get(n).flatMap(_.get(key))
            .forall { case (mn, mx) => mx >= lo && mn <= hi } => n
        }
        if (surviving.isEmpty)
          // every file pruned: an empty frame with the version's schema
          read(step, version, schema).limit(0)
        else
          reader(schema).option("basePath", dir.toString)
            .load(surviving.map(n => new Path(dir, n).toString): _*)
      case _ => reader(schema).load(dir.toString)
    }
    base.filter(col(key) >= lit(lo) && col(key) <= lit(hi))
  }

  /** Read the latest committed version (tools.go:578-589). */
  def latest(step: String, schema: Option[StructType] = None): DataFrame = {
    val v = latestVersion(step).getOrElse(
      throw new NoSuchElementException(s"catalog: step $step has no versions under $root"))
    read(step, v, schema)
  }

  /** CDC-style upsert: latest version full-outer-combined with `updates`
    * on `keys` — an update row REPLACES the whole base row for its key
    * (row-wise, so updates may legitimately null a column), unmatched
    * update rows insert, unmatched base rows carry over. Commits as the
    * next version; old versions stay readable (time travel = CDC audit).
    * One co-partitioned shuffle join; both sides exchange on `keys`.
    * `epochTag` commits with the version, as in [[writeNext]]. */
  def merge(
      step: String, updates: org.apache.spark.sql.DataFrame,
      keys: Seq[String], schema: Option[StructType] = None,
      epochTag: Option[Long] = None): Int = {
    import org.apache.spark.sql.functions.{coalesce, col, struct}
    val base = latest(step, schema)
    val cols = base.columns.toSeq
    require(updates.columns.toSeq == cols,
      s"catalog merge: update schema ${updates.columns.toSeq} != table schema $cols")
    // One row per key or the full_outer join would fan out and persist
    // duplicates into the new version. Which duplicate should win is
    // caller knowledge (an ordering column), so fail fast instead of
    // picking one nondeterministically. Null-keyed rows are exempt: the
    // join never matches them, so each inserts independently — grouping
    // them together would reject legitimate inputs. Costs one extra
    // validation pass over `updates` per merge (cheap next to the join).
    val dupKeys = updates
      .filter(keys.map(k => col(k).isNotNull).reduce(_ && _))
      .groupBy(keys.map(org.apache.spark.sql.functions.col): _*)
      .count().filter(org.apache.spark.sql.functions.col("count") > 1).limit(1).count()
    require(dupKeys == 0,
      s"catalog merge: updates carry duplicate keys on ${keys.mkString(",")}; " +
        "reduce to one row per key first (last-wins needs a caller-defined order)")
    val b = base.select(struct(cols.map(col): _*).as("_b") +: keys.map(col): _*)
    val u = updates.select(struct(cols.map(col): _*).as("_u") +: keys.map(col): _*)
    val merged = b.join(u, keys, "full_outer")
      .select(coalesce(col("_u"), col("_b")).as("_r"))
      .select("_r.*")
    writeNext(step, merged, epochTag = epochTag)
  }

  /** CDC read between two committed versions — the query-side
    * complement of [[merge]]: per key, how vFrom became vTo. Returns
    * the key columns plus `change` ('insert' | 'delete' | 'update')
    * and the full `old`/`new` rows as structs; unchanged keys do not
    * flow (CDC semantics — at 100 TB the diff of daily versions is
    * small even when both versions are not). One co-partitioned
    * full-outer join on `keys`, the same shuffle shape as merge;
    * row-wise struct equality, so a change in ANY column (nulls
    * included) classifies as an update. Both versions must carry the
    * same schema — time travel never rewrites old versions, so a
    * schema-evolved step diffs only across same-schema spans. */
  def diff(step: String, vFrom: Int, vTo: Int, keys: Seq[String],
      schema: Option[StructType] = None): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit, struct, when}
    val a = read(step, vFrom, schema)
    val b = read(step, vTo, schema)
    val cols = a.columns.toSeq
    require(b.columns.toSeq == cols,
      s"catalog diff: v$vTo schema ${b.columns.toSeq} != v$vFrom schema $cols")
    val l = a.select(struct(cols.map(col): _*).as("old") +: keys.map(col): _*)
    val r = b.select(struct(cols.map(col): _*).as("new") +: keys.map(col): _*)
    l.join(r, keys, "full_outer")
      .withColumn("change",
        when(col("old").isNull, lit("insert"))
          .when(col("new").isNull, lit("delete"))
          .when(col("old") === col("new"), lit("same"))
          .otherwise(lit("update")))
      .filter(col("change") =!= "same")
      .select(keys.map(col) :+ col("change") :+ col("old") :+ col("new"): _*)
  }

  /** Rewrite the latest version into ~`targetBytes`-sized files as a new
    * version — the small-files compaction every incremental sink needs
    * (a streaming epoch sink commits many small versions whose files are
    * sized by epoch, not by read efficiency).
    *
    * The source version's EPOCH TAG carries forward. The streaming
    * sinks' guard reads [[maxEpochTag]] over all retained versions, so
    * the compacted version does not need it while the source is
    * retained — but `vacuum` can drop the tagged source, and a
    * compacted latest version without the tag would then make a
    * replayed epoch look uncommitted (an additive fold would
    * double-add). Any future operation that rewrites the latest
    * version must do the same. */
  def compact(
      step: String, schema: Option[StructType] = None,
      targetBytes: Long = 128L << 20): Int = {
    val v = latestVersion(step).getOrElse(
      throw new NoSuchElementException(s"catalog: step $step has no versions to compact"))
    val total = fs.getContentSummary(versionDir(step, v)).getLength
    val parts = math.max(1L, (total + targetBytes - 1) / targetBytes).toInt
    writeNext(step, read(step, v, schema).repartition(parts),
      epochTag = versionEpochTag(step, v))
  }

  /** The epoch tag a version was committed with ([[writeNext]]'s
    * `epochTag`), if any — one directory listing, no data read. Foreign
    * files that merely share the `_epoch_` prefix (a stray marker, a
    * tool's leftovers) are ignored rather than fatal: only an all-digit
    * suffix that parses as int64 counts as a tag. */
  def versionEpochTag(step: String, v: Int): Option[Long] =
    fs.listStatus(versionDir(step, v)).toSeq
      .map(_.getPath.getName)
      .flatMap { n =>
        if (n.startsWith("_epoch_"))
          scala.util.Try(n.stripPrefix("_epoch_").toLong).toOption
        else None
      }.maxOption

  /** The MAXIMUM epoch tag across ALL retained versions — what the
    * streaming sinks' exactly-once guard reads. Unlike the latest
    * version's tag alone, it survives an operation that rewrites the
    * latest version WITHOUT carrying the tag forward (a manual
    * republish, a future maintenance op — [[compact]] does carry it)
    * while the tagged version is retained; and unlike version
    * arithmetic, it is blind to gaps in the version sequence. One
    * listing per retained version; retention bounds the cost. */
  def maxEpochTag(step: String): Option[Long] =
    versions(step).flatMap(versionEpochTag(step, _)).maxOption

  /** Retention: delete all versions except the newest `keep`; returns the
    * versions removed. Readers of dropped versions fail fast with the
    * usual no-such-version error. */
  def vacuum(step: String, keep: Int): Seq[Int] = {
    require(keep >= 1, "catalog vacuum: must keep at least the latest version")
    val drop = versions(step).dropRight(keep)
    drop.foreach { v =>
      fs.delete(versionDir(step, v), true)
      // the claim travels with its version; claims for retained or
      // crash-orphaned versions stay (an orphaned claim just keeps its
      // number skipped, which is exactly the safe outcome)
      fs.delete(new Path(claimDir(step), s"v=$v"), false)
    }
    drop
  }

  /** Delete EVERY version of a step, claims included — the build-once
    * stores' crash-retry primitive. When a store's gate artifact is
    * missing, the family is mid-build; a partially-committed version
    * chain would make a retry's writeNext/read-back version numbers
    * disagree (epoch r would read back stale version r instead of the
    * row it just wrote, silently training on the wrong weights).
    * Dropping the whole step lets the retry start from version 1. */
  def dropStep(step: String): Seq[Int] = {
    val drop = versions(step)
    fs.delete(stepDir(step), true)
    drop
  }

  /** Remove staging directories orphaned by crashed writes — a
    * successful writeNext renames its staging dir into place, so
    * anything still under `.staging` belongs to no committed version.
    * Only run while no write is in flight (it cannot tell a crash's
    * leftovers from a concurrent writer's work in progress). */
  def vacuumStaging(): Int = {
    val st = new Path(rootPath, ".staging")
    if (!fs.exists(st)) 0
    else {
      val orphans = fs.listStatus(st)
      orphans.foreach(o => fs.delete(o.getPath, true))
      orphans.length
    }
  }

  private def reader(schema: Option[StructType]) = {
    // FAILFAST mirrors the reference's abort-on-malformed-line
    // (tools.go:540-542); production reads always carry an explicit
    // schema, like the reference's always-supplied record template.
    val r = spark.read.format(format).options(options).option("mode", "FAILFAST")
    schema.fold(r)(r.schema)
  }
}

/** A committed version's parsed `_manifest.json` (see
  * [[VersionedCatalog.writeNext]]): the exact data-file set with
  * sizes, the write-time row count, the partition layout, and (for
  * key-clustered writes) per-file int64 key ranges — `stats` maps
  * file name → column → (min, max), empty for files written without
  * `statsCols`. */
final case class CatalogManifest(
    format: String,
    nFiles: Int,
    totalBytes: Long,
    rowCount: Option[Long],
    partitionBy: Seq[String],
    files: Seq[(String, Long)],
    stats: Map[String, Map[String, (Long, Long)]] = Map.empty)

object CatalogManifest {
  private val FileRe =
    ("""\{"name":"((?:[^"\\]|\\.)*)","bytes":(\d+)""" +
      """(?:,"mins":\{([^}]*)\},"maxs":\{([^}]*)\})?\}""").r
  private val FmtRe = """"format":"((?:[^"\\]|\\.)*)"""".r
  private val NFilesRe = """"n_files":(\d+)""".r
  private val BytesRe = """"total_bytes":(\d+)""".r
  private val RowsRe = """"row_count":(null|\d+)""".r
  private val PartRe = """"partition_by":\[([^\]]*)\]""".r
  private val KvRe = """"((?:[^"\\]|\\.)*)":(-?\d+)""".r
  private def unesc(s: String) = s.replace("\\\"", "\"").replace("\\\\", "\\")
  private def kvs(s: String): Map[String, Long] =
    KvRe.findAllMatchIn(s).map(m => unesc(m.group(1)) -> m.group(2).toLong).toMap

  /** Parse the fixed manifest format this catalog writes; None on
    * anything malformed — every caller treats None as "fall back to
    * directory listing", so a damaged manifest degrades, never lies. */
  def parse(text: String): Option[CatalogManifest] =
    for {
      fmt <- FmtRe.findFirstMatchIn(text).map(m => unesc(m.group(1)))
      nf <- NFilesRe.findFirstMatchIn(text).map(_.group(1).toInt)
      tb <- BytesRe.findFirstMatchIn(text).map(_.group(1).toLong)
      rcRaw <- RowsRe.findFirstMatchIn(text).map(_.group(1))
      partRaw <- PartRe.findFirstMatchIn(text).map(_.group(1))
      matches = FileRe.findAllMatchIn(text).toSeq
      files = matches.map(m => (unesc(m.group(1)), m.group(2).toLong))
      if files.length == nf
    } yield CatalogManifest(fmt, nf, tb,
      if (rcRaw == "null") None else Some(rcRaw.toLong),
      """"((?:[^"\\]|\\.)*)"""".r.findAllMatchIn(partRaw)
        .map(m => unesc(m.group(1))).toSeq,
      files,
      matches.flatMap { m =>
        if (m.group(3) == null) None
        else {
          val mins = kvs(m.group(3))
          val maxs = kvs(m.group(4))
          val cols = mins.keySet intersect maxs.keySet
          if (cols.isEmpty) None
          else Some(unesc(m.group(1)) ->
            cols.map(c => c -> (mins(c), maxs(c))).toMap)
        }
      }.toMap)
}

object VersionedCatalog {
  /** Serializes same-process claim creation (see [[VersionedCatalog
    * .claimVersion]]): cross-job arbitration is the filesystem's atomic
    * create-no-overwrite; this lock closes the check-then-act window of
    * local-filesystem create for writers sharing a JVM. */
  private[catalog] val claimLock = new Object

  private[catalog] val log =
    org.slf4j.LoggerFactory.getLogger(classOf[VersionedCatalog])
}
