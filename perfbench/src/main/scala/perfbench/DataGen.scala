package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Deterministic generator of the benchmark's base tables: the ten
  * tables of the program's test data (TPC-H-ish star schema plus
  * `events`, `documents`, `embeddings`) with the same names, column
  * types and row counts as scale factor 0.1, and value domains matching
  * the shipped sf0.1 set. The content depends only on [[Version]] — never
  * on the workload seed — so pinned per-query results stay valid for
  * every seed.
  */
object DataGen {

  /** Bumped whenever the generated content changes (invalidates the
    * on-disk copy and the pinned results).
    */
  val Version = "sf0.1-v1"

  private val DataSeed = 42L

  /** Uniform [0,1) from the row id and a per-column salt. */
  private def u(salt: Int): Column =
    xxhash64(col("id"), lit(salt)).bitwiseAND(lit(0xFFFFFFFFFFFFL)).cast("double") /
      lit(math.pow(2, 48))

  /** Uniform integer in [0, n). */
  private def ri(salt: Int, n: Long): Column = floor(u(salt) * lit(n)).cast("long")

  private def pick(salt: Int, values: Seq[String]): Column =
    element_at(array(values.map(lit): _*), (ri(salt, values.size.toLong) + 1).cast("int"))

  private def day(base: String, salt: Int, span: Int): Column =
    date_add(lit(base).cast("date"), ri(salt, span.toLong).cast("int"))
      .cast("timestamp").cast(TimestampNTZType)

  private val words = Seq("batch", "part", "spark", "line", "column", "order",
    "small", "sort", "fast", "value", "scan", "a", "hash", "slow", "group",
    "agg", "filter", "query", "table", "key", "window", "row", "stream",
    "merge", "join", "vector", "big", "data", "the", "customer")

  /** Writes every table under `dir` unless a complete copy of this
    * [[Version]] is already there.
    */
  def ensure(spark: SparkSession, dir: Path): Unit = {
    val stamp = dir.resolve("_GENERATED")
    if (Files.exists(stamp) && Files.readString(stamp).trim == Version) return
    Files.createDirectories(dir)
    def write(name: String, df: DataFrame): Unit =
      df.coalesce(1).write.mode("overwrite").parquet(dir.resolve(s"$name.parquet").toString)

    write("region", spark.createDataFrame(
      java.util.Arrays.asList(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
        .zipWithIndex.map { case (n, i) => Row(i, n) }: _*),
      StructType(Seq(StructField("r_regionkey", IntegerType), StructField("r_name", StringType)))))
    write("nation", spark.range(25).select(col("id").cast("int").as("n_nationkey"),
      concat(lit("NATION_"), col("id")).as("n_name"), (col("id") % 5).cast("int").as("n_regionkey")))
    write("customer", spark.range(15000).select(col("id").as("c_custkey"),
      format_string("Customer#%09d", col("id")).as("c_name"),
      ri(1, 25).cast("int").as("c_nationkey"),
      round(u(2) * 10999.0 - 999.99, 2).as("c_acctbal"),
      pick(3, Seq("MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE")).as("c_mktsegment")))
    write("supplier", spark.range(1000).select(col("id").as("s_suppkey"),
      format_string("Supplier#%09d", col("id")).as("s_name"),
      ri(11, 25).cast("int").as("s_nationkey"),
      round(u(12) * 10999.0 - 999.99, 2).as("s_acctbal")))
    write("part", spark.range(20000).select(col("id").as("p_partkey"),
      concat_ws(" ", pick(21, Seq("large", "hot", "blue", "green", "small", "red", "cold", "dark")),
        pick(22, Seq("ring", "bolt", "nut", "gear", "pipe", "valve", "screw", "plate"))).as("p_name"),
      concat(lit("Brand#"), ri(23, 25) + 1).as("p_brand"),
      pick(24, Seq("LARGE", "ECONOMY", "SMALL", "MEDIUM", "STANDARD", "PROMO")).as("p_type"),
      (ri(25, 50) + 1).cast("int").as("p_size"),
      round(lit(900.0) + (col("id") % 1000) / 10.0, 2).as("p_retailprice")))
    write("orders", spark.range(150000).select(col("id").as("o_orderkey"),
      ri(31, 15000).as("o_custkey"),
      pick(32, Seq("O", "P", "F")).as("o_orderstatus"),
      round(u(33) * 499000.0 + 1000.0, 2).as("o_totalprice"),
      day("1995-01-01", 34, 2404).as("o_orderdate"),
      pick(35, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")).as("o_orderpriority")))
    write("lineitem", spark.range(600000).select(ri(41, 150000).as("l_orderkey"),
      ri(42, 20000).as("l_partkey"), ri(43, 1000).as("l_suppkey"),
      (ri(44, 7) + 1).cast("int").as("l_linenumber"),
      (ri(45, 50) + 1).cast("double").as("l_quantity"),
      round(u(46) * 104000.0 + 900.0, 2).as("l_extendedprice"),
      (ri(47, 11) / 100.0).as("l_discount"),
      (ri(48, 9) / 100.0).as("l_tax"),
      pick(49, Seq("A", "N", "R")).as("l_returnflag"),
      pick(50, Seq("O", "F")).as("l_linestatus"),
      day("1995-01-02", 51, 2498).as("l_shipdate")))
    val baseUs = java.time.Instant.parse("2024-01-01T00:00:00Z").toEpochMilli * 1000L
    val stepUs = 30L * 86400L * 1000000L / 100000L
    write("events", spark.range(100000).select(col("id").as("event_id"),
      timestamp_micros(lit(baseUs) + col("id") * stepUs + ri(61, stepUs))
        .cast(TimestampNTZType).as("ts"),
      ri(62, 1500).as("user_id"),
      pick(63, Seq("signup", "click", "error", "view", "purchase")).as("event_type"),
      round(-log(lit(1.0) - u(64) * 0.9999) * 60.0, 2).as("value"),
      format_string("{\"k\": %d}", ri(65, 100)).as("props")))
    write("documents", documents(spark))
    write("embeddings", embeddings(spark))
    Files.writeString(stamp, Version + "\n")
  }

  /** 5000 documents of 5-115 vocabulary words, doc_id-cycled sources,
    * skewed languages, 8 exact-duplicate pairs and 60 near-duplicate
    * edits so the dedup kernels have something to find.
    */
  private def documents(spark: SparkSession): DataFrame = {
    val rnd = new scala.util.Random(DataSeed)
    val langs = Seq("en", "en", "en", "de", "es", "fr", "zh", "en")
    val texts = Array.fill(5000) {
      Seq.fill(5 + rnd.nextInt(111))(words(rnd.nextInt(words.size))).mkString(" ")
    }
    (0 until 8).foreach { i =>
      val src = 100 + i * 37
      texts(src) = texts(src) + " dup"
      texts(4000 + i * 13) = texts(src)
    }
    (0 until 60).foreach { i =>
      val src = 200 + i * 53
      val ws = texts(src).split(' ')
      ws(rnd.nextInt(ws.length)) = words(rnd.nextInt(words.size))
      texts(4200 + i * 11) = ws.mkString(" ")
    }
    val rows = texts.zipWithIndex.map { case (t, i) =>
      Row(i.toLong, t, langs(rnd.nextInt(langs.size)), s"src${i % 20}", t.length.toLong)
    }
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType))))
  }

  /** 2000 unit-norm 64-d float vectors with labels 0-9. */
  private def embeddings(spark: SparkSession): DataFrame = {
    val rnd = new scala.util.Random(DataSeed + 1)
    val rows = (0 until 2000).map { i =>
      val v = Array.fill(64)(rnd.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      Row(i.toLong, v.map(x => (x / n).toFloat).toSeq, rnd.nextInt(10))
    }
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType, containsNull = true)),
      StructField("label", IntegerType))))
  }
}
