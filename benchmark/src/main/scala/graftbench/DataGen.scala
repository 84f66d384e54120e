package graftbench

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.jdk.CollectionConverters._

/** Deterministic input tables in the shape of the repository's fixture
  * schemas (FIXTURES.md part B): `lineitem`, `orders`, `events`,
  * `documents` and `embeddings`, one parquet file each.
  *
  * Every value is a hash of the row id and a per-column salt, or a draw
  * from a fixed-seed `java.util.Random` in the JVM, so the same sizes
  * give byte-identical tables on every run and core count. The workload
  * seed does not reach this data: it only picks key ranges, run ids and
  * pass orders over it. */
object DataGen {
  /** Table sizes of one input set. */
  final case class Sizes(lineitem: Long, orders: Long, events: Long,
      users: Int, documents: Int, embeddings: Int)

  /** The pipeline and DML workloads: `lineitem` is the daily snapshot
    * (a sixth of sf0.1, so a timed run holds several daily runs and
    * maintenance cycles), `orders` the DML table (sf0.1, 150k rows). */
  val Full = Sizes(lineitem = 100000L, orders = 150000L, events = 0L,
    users = 0, documents = 0, embeddings = 0)
  /** The curation queries read a set below sf0.01: their cost at this
    * size is per-job and per-stage work, which is what a pass measures. */
  val Curation = Sizes(lineitem = 20000L, orders = 5000L, events = 5000L,
    users = 50, documents = 250, embeddings = 300)
  val EmbeddingDim = 64

  /** Uniform double in [0, 1) from the row id and a salt. */
  private def u(salt: Int): Column =
    pmod(xxhash64(col("id"), lit(salt)), lit(1000000007L)).cast("double") / lit(1000000007.0)

  private def pick(salt: Int, values: String*): Column =
    element_at(array(values.map(lit): _*), (floor(u(salt) * values.size) + 1).cast("int"))

  def lineitem(spark: SparkSession, n: Sizes): DataFrame =
    spark.range(n.lineitem).select(
      (col("id") / 4 + 1).cast("long").as("l_orderkey"),
      (floor(u(1) * 20000) + 1).cast("long").as("l_partkey"),
      (floor(u(2) * 1000) + 1).cast("long").as("l_suppkey"),
      (col("id") % 4 + 1).cast("int").as("l_linenumber"),
      (floor(u(3) * 50) + 1).as("l_quantity"),
      round((floor(u(3) * 50) + 1) * (lit(900.0) + u(4) * 1100), 2).as("l_extendedprice"),
      (floor(u(5) * 11) / 100).as("l_discount"),
      (floor(u(6) * 9) / 100).as("l_tax"),
      pick(7, "A", "N", "R").as("l_returnflag"),
      pick(8, "F", "O").as("l_linestatus"),
      timestamp_seconds(lit(694310400L) + floor(u(9) * 2526 * 86400).cast("long"))
        .as("l_shipdate"))

  def orders(spark: SparkSession, n: Sizes): DataFrame =
    spark.range(n.orders).select(
      (col("id") + 1).as("o_orderkey"),
      (floor(u(11) * 15000) + 1).cast("long").as("o_custkey"),
      pick(12, "F", "O", "P").as("o_orderstatus"),
      round(u(13) * 500000, 2).as("o_totalprice"),
      timestamp_seconds(lit(694224000L) + floor(u(14) * 2400 * 86400).cast("long"))
        .as("o_orderdate"),
      pick(15, "1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
        .as("o_orderpriority"))

  /** One day of events, dense enough per user for the interval joins. */
  def events(spark: SparkSession, n: Sizes): DataFrame = {
    val spanSeconds = 86400L
    spark.range(n.events).select(
      col("id").as("event_id"),
      timestamp_micros(lit(1704067200000000L) +
        (col("id") * (spanSeconds * 1000000L / n.events)) +
        floor(u(21) * 1000000).cast("long")).as("ts"),
      floor(u(22) * n.users).cast("long").as("user_id"),
      pick(23, "click", "error", "purchase", "signup", "view").as("event_type"),
      round(u(24) * 200, 2).as("value"),
      concat(lit("{\"k\": "), floor(u(25) * 100).cast("string"), lit("}")).as("props"))
  }

  private val Vocabulary = Seq("a", "agg", "batch", "big", "column", "customer",
    "data", "fast", "filter", "group", "hash", "join", "key", "line", "merge",
    "order", "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "the", "value", "vector", "window", "lake", "file",
    "index", "cache", "shard", "token", "model", "batch", "page", "log")

  /** Word-soup documents: 70 % fresh, 12 % exact copies of an earlier
    * document, 18 % near copies (about one word in ten replaced). */
  def documents(spark: SparkSession, n: Sizes): DataFrame = {
    val rnd = new java.util.Random(42L)
    val texts = scala.collection.mutable.ArrayBuffer.empty[String]
    (0 until n.documents).foreach { i =>
      val r = rnd.nextDouble()
      val text =
        if (i > 10 && r < 0.12) texts(rnd.nextInt(i))
        else if (i > 10 && r < 0.30) {
          texts(rnd.nextInt(i)).split(' ').map { w =>
            if (rnd.nextDouble() < 0.1) Vocabulary(rnd.nextInt(Vocabulary.size)) else w
          }.mkString(" ")
        } else {
          val n = 8 + rnd.nextInt(92)
          Seq.fill(n)(Vocabulary(rnd.nextInt(Vocabulary.size))).mkString(" ")
        }
      texts += text
    }
    val langs = Seq("en", "en", "zh", "de", "fr", "es")
    val rows = texts.zipWithIndex.map { case (t, i) =>
      Row(i.toLong, t, langs(i % langs.size), s"src${i % 20}", t.length.toLong)
    }
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType), StructField("lang", StringType),
      StructField("source", StringType), StructField("n_chars", LongType)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows.toSeq, 1), schema)
  }

  /** Vectors scattered around ten label centroids. */
  def embeddings(spark: SparkSession, n: Sizes): DataFrame = {
    val rnd = new java.util.Random(43L)
    val centroids = Array.fill(10, EmbeddingDim)(rnd.nextGaussian().toFloat)
    val rows = (0 until n.embeddings).map { i =>
      val label = i % 10
      val v = centroids(label).map(c => (c + 0.6 * rnd.nextGaussian()).toFloat)
      Row(i.toLong, v.toSeq, label)
    }
    val schema = StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)), StructField("label", IntegerType)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
  }

  /** Writes `full/` (lineitem, orders) and `curation/` (every table)
    * under `dir`, one file per table. */
  def write(spark: SparkSession, dir: String): Unit = {
    // one plain file per table, like the fixture tables: the streaming
    // queries glob for `events.parquet` as a file, not a directory
    def put(set: String, name: String, df: DataFrame): Unit = {
      val staged = java.nio.file.Paths.get(dir, set, s".$name")
      df.coalesce(1).write.mode("overwrite").parquet(staged.toString)
      val ls = java.nio.file.Files.list(staged)
      val part = try ls.iterator().asScala.find(_.getFileName.toString.endsWith(".parquet")).get
        finally ls.close()
      java.nio.file.Files.move(part, staged.resolveSibling(s"$name.parquet"))
      org.apache.commons.io.FileUtils.deleteDirectory(staged.toFile)
    }
    put("full", "lineitem", lineitem(spark, Full))
    put("full", "orders", orders(spark, Full))
    val c = Curation
    Seq("lineitem" -> lineitem(spark, c), "orders" -> orders(spark, c),
      "events" -> events(spark, c), "documents" -> documents(spark, c),
      "embeddings" -> embeddings(spark, c)).foreach { case (n, df) => put("curation", n, df) }
  }
}
