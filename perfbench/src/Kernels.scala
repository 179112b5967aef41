package graft.perfbench

import graft.ext.Multimodal
import graft.functions._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** The `functions` layer. Set-up writes the kernels' inputs, generated
  * from `spark.range`, as parquet. Each `suite` pass runs one operation
  * per input dataset: it reads the dataset and applies every compiled
  * kernel in `graft.functions` that reads it, and the harness checksums
  * the output like any query's. The inputs are fixed (not seeded), so
  * the checksums can be pinned; the seed only shuffles the operation
  * order. The traced run also times each kernel on its own
  * ([[rowsPerSecond]]). */
object Kernels {
  val names: Seq[String] = Seq("tokenize", "shingles", "minhash", "simhash", "bpe_encode",
    "viterbi_segment", "ivf_assign", "pq_encode", "ppm_channel_stats", "topk_agg", "bloom_build")

  /** The kernel operations of a pass: (operation, input dataset, kernels). */
  val groups: Seq[(String, String, Seq[String])] = Seq(
    ("text", "text", Seq("tokenize", "shingles", "minhash", "simhash", "bpe_encode")),
    ("ppm", "ppm", Seq("ppm_channel_stats")),
    ("wide", "wide", Seq("viterbi_segment", "ivf_assign", "pq_encode")),
    ("aggregates", "wide", Seq("topk_agg", "bloom_build")))

  /** Rows of the text-derived inputs (texts, tokens, shingles, PPM
    * images) and of the cheaper per-row inputs (words, vectors, hashed
    * ids). */
  val TextRows = 20000L
  val WideRows = 100000L

  private val dim = 16
  private val words = Seq("alpha", "bravo", "charlie", "delta", "echo", "foxtrot", "golf",
    "hotel", "india", "juliet", "kilo", "lima", "mike", "november", "oscar", "papa")
  private val merges = Seq("a" -> "l", "h" -> "a", "e" -> "c", "o" -> "t", "i" -> "n", "e" -> "l",
    "r" -> "a", "ec" -> "h", "al" -> "p", "in" -> "d")
  private val pieces = (('a' to 'z').map(c => c.toString -> 10L) ++ words.map(_ -> 12L) ++
    words.map(_.take(3) -> 6L)).distinct
  private lazy val centroids = {
    val rnd = new scala.util.Random(0)
    Array.fill(64, dim)(rnd.nextDouble() * 2 - 1)
  }
  private lazy val books = VectorIndexFunctions.pqCodebooks(4, 16, dim / 4)

  /** Writes every kernel input under `dir`, in three datasets: the
    * texts with their tokens and shingles, the texts as PPM images, and
    * the per-row inputs (words, vectors, hashed ids). */
  def makeInputs(spark: SparkSession, dir: String): Unit = {
    def pick(seed: String) = s"element_at(array(${words.map(w => s"'$w'").mkString(",")}), " +
      s"cast(pmod(xxhash64($seed), ${words.size}) as int) + 1)"
    spark.range(TextRows)
      .select(col("id"), expr(s"concat_ws(' ', transform(sequence(0, 23), i -> ${pick("id, i")}))").as("text"))
      .withColumn("tokens", HashFunctions.tokenize(col("text")))
      .withColumn("sh", HashFunctions.shingles(col("tokens"), 3))
      .write.parquet(s"$dir/text")
    Multimodal.ppmWrap(spark.read.parquet(s"$dir/text").select(col("id").as("doc_id"), col("text")))
      .write.parquet(s"$dir/ppm")
    spark.range(WideRows).select(expr(pick("id")).as("w"),
      expr(s"transform(sequence(0, ${dim - 1}), i -> CAST(pmod(xxhash64(id, i), 2001) - 1000 AS DOUBLE) / 1000.0)").as("v"),
      xxhash64(col("id")).as("h"))
      .write.parquet(s"$dir/wide")
  }

  private def dataset(kernel: String): String = groups.find(_._3.contains(kernel)).get._2
  private def rows(kernel: String): Long = if (dataset(kernel) == "wide") WideRows else TextRows
  private def isAggregate(kernel: String): Boolean = kernel == "topk_agg" || kernel == "bloom_build"

  private def kernel(name: String): Column = name match {
    case "tokenize" => HashFunctions.tokenize(col("text"))
    case "shingles" => HashFunctions.shingles(col("tokens"), 3)
    case "minhash" => HashFunctions.minhashSignature(col("sh"), 64)
    case "simhash" => HashFunctions.simhash60(col("tokens"))
    case "bpe_encode" => BpeFunctions.encodeTokens(col("tokens"), merges)
    case "viterbi_segment" => UnigramFunctions.viterbiSegment(col("w"), pieces, 12)
    case "ivf_assign" => VectorIndexFunctions.nearestCentroid(col("v"), centroids)
    case "pq_encode" => VectorIndexFunctions.pqEncode(col("v"), books)
    case "ppm_channel_stats" => MediaCodecFunctions.ppmChannelStats(col("content"))
    case "topk_agg" => AggFunctions.topK(col("h"), 10)
    case "bloom_build" => BloomFunctions.bloomBuild(col("h"), WideRows, 0.01)
  }

  /** `kernels` applied to their input dataset: one output row per input
    * row, or one row for the aggregate kernels. */
  private def apply(spark: SparkSession, dir: String, kernels: Seq[String]): DataFrame = {
    val in = spark.read.parquet(s"$dir/${dataset(kernels.head)}")
    val cols = kernels.map(k => kernel(k).as(k))
    if (kernels.forall(isAggregate)) in.agg(cols.head, cols.tail: _*) else in.select(cols: _*)
  }

  /** The kernel operation `group` (a name in [[groups]]). */
  def query(spark: SparkSession, dir: String, group: String): DataFrame =
    apply(spark, dir, groups.find(_._1 == group).get._3)

  /** Input rows per second of each kernel on its own: its input read and
    * the kernel applied, written to the `noop` sink (no checksum, no
    * shuffle); the median of three runs. */
  def rowsPerSecond(spark: SparkSession, dir: String): Map[String, Double] = names.map { k =>
    val out = apply(spark, dir, Seq(k))
    val secs = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      out.write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    k -> rows(k) / Stats.median(secs)
  }.toMap
}
