package perfbench

import java.nio.file.{Files, Path, Paths}
import java.nio.file.attribute.BasicFileAttributes
import java.time.LocalDateTime
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.store.TxStore
import graft.streaming.Streaming

/** One `orders` row, as the in-bench model holds it. */
final case class OrderRow(key: Long, cust: Long, status: String, price: Double,
    date: LocalDateTime, prio: String) {
  def toRow: Row = Row(key, cust, status, price, date, prio)
}

/** A TxStore table initialized from `orders` ([[StoreTable.InitRows]]
  * rows), an upsert stream into it, and the model of every acknowledged
  * version. The writer records a version's expected state BEFORE
  * committing it, so a reader that sees the new `_current` always finds
  * its expectation.
  */
final class StoreTable(ctx: Ctx, dir: Path) {
  val root: String = dir.resolve("orders").toString
  val pk = Seq("o_orderkey")
  val schema: StructType = StructType(Seq(
    StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType), StructField("o_totalprice", DoubleType),
    StructField("o_orderdate", TimestampNTZType), StructField("o_orderpriority", StringType)))

  /** version -> (rows, exact price sum) and version -> model state. */
  val fingerprints = new ConcurrentHashMap[Long, (Long, java.math.BigDecimal)]()
  private val states = new ConcurrentHashMap[Long, Map[Long, OrderRow]]()
  private val touched = new ConcurrentHashMap[Long, Set[Long]]()
  @volatile var oldest: Long = 1L
  @volatile var acked: Long = 1L

  private val initial: Map[Long, OrderRow] = {
    val df = graft.queries.T.load(ctx.spark, ctx.data, "orders")
      .filter(col("o_orderkey") < StoreTable.InitRows)
      .select(schema.fieldNames.map(col).toSeq: _*)
    TxStore.init(df, root)
    df.collect().iterator.map { r =>
      r.getLong(0) -> OrderRow(r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3),
        r.getAs[LocalDateTime](4), r.getString(5))
    }.toMap
  }
  record(1L, initial, Set.empty)

  private val live = mutable.ArrayBuffer.from(initial.keys.toSeq.sorted)
  private var nextKey = 10000000L
  private var state = initial

  /** Bytes of the init version per row, the unit of `store.write_amp`. */
  val bytesPerRow: Double = TxStore.currentVersion(root).map(v =>
    StoreTable.dataFiles(Paths.get(TxStore.versionDir(root, v))).values.sum.toDouble).get / initial.size

  private val mem = {
    implicit val sqlc: org.apache.spark.sql.SQLContext = ctx.spark.sqlContext
    import ctx.spark.implicits._
    MemoryStream[(Long, Long, String, Double, LocalDateTime, String)]
  }
  ctx.group("stream")
  val stream: StreamingQuery = Streaming.upsertSink(mem.toDF().toDF(schema.fieldNames.toSeq: _*),
    root, pk, dir.resolve("checkpoint").toString)

  /** Running hash of every write's kind and rows (seed test). */
  @volatile var batchDigest: Long = 0L
  private def digest(kind: String, rows: Iterable[Any]): Unit =
    batchDigest = scala.util.hashing.MurmurHash3.orderedHash(Seq(batchDigest, kind, rows.toSeq))

  private def record(v: Long, s: Map[Long, OrderRow], keys: Set[Long]): Unit = {
    states.put(v, s)
    touched.put(v, keys)
    fingerprints.put(v, (s.size.toLong,
      s.valuesIterator.map(r => new java.math.BigDecimal(r.price).setScale(2, java.math.RoundingMode.HALF_UP))
        .foldLeft(java.math.BigDecimal.ZERO)(_ add _)))
  }

  private def randomRow(key: Long, rnd: scala.util.Random): OrderRow =
    OrderRow(key, rnd.nextInt(15000).toLong, Seq("O", "P", "F")(rnd.nextInt(3)),
      BigDecimal(rnd.nextInt(49900000) / 100.0 + 1000.0).setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble,
      LocalDateTime.of(1995, 1, 1, 0, 0).plusDays(rnd.nextInt(2404).toLong),
      Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")(rnd.nextInt(5)))

  private def pickLive(n: Int, rnd: scala.util.Random): Seq[Long] =
    Seq.fill(n)(live(rnd.nextInt(live.size))).distinct

  /** Commits `rows` through the upsert stream (MemoryStream →
    * Streaming.upsertSink → TxStore.commitBatch); returns (version, rows).
    */
  def upsert(rnd: scala.util.Random): (Long, Long) = {
    val rows = pickLive(150, rnd).map(randomRow(_, rnd)) ++
      Seq.fill(50) { nextKey += 1; randomRow(nextKey, rnd) }
    val next = acked + 1
    rows.filterNot(r => state.contains(r.key)).foreach(r => live += r.key)
    state = state ++ rows.map(r => r.key -> r)
    record(next, state, rows.map(_.key).toSet)
    digest("upsert", rows)
    mem.addData(rows.map(r => (r.key, r.cust, r.status, r.price, r.date, r.prio)))
    ctx.tracer.span("streaming.processAllAvailable", "streaming") { stream.processAllAvailable() }
    ack(next, "upsert")
    (next, rows.size.toLong)
  }

  /** `TxStore.commitAppend` of 200 fresh keys. */
  def append(rnd: scala.util.Random): (Long, Long) = {
    val rows = Seq.fill(200) { nextKey += 1; randomRow(nextKey, rnd) }
    val next = acked + 1
    rows.foreach(r => live += r.key)
    state = state ++ rows.map(r => r.key -> r)
    record(next, state, rows.map(_.key).toSet)
    digest("append", rows)
    val df = ctx.spark.createDataFrame(rows.map(_.toRow).asJava, schema)
    val v = ctx.tracer.span("store.commitAppend", "store") { TxStore.commitAppend(ctx.spark, root, df) }
    ack(next, "append", Some(v))
    (next, rows.size.toLong)
  }

  /** `TxStore.commitDeleteVectors` of 100 live keys. */
  def delete(rnd: scala.util.Random): (Long, Long) = {
    val keys = pickLive(100, rnd).toSet
    val next = acked + 1
    live.filterInPlace(k => !keys.contains(k))
    state = state -- keys
    record(next, state, keys)
    digest("delete", keys.toSeq.sorted)
    val v = ctx.tracer.span("store.commitDeleteVectors", "store") {
      TxStore.commitDeleteVectors(ctx.spark, root, col("o_orderkey").isin(keys.toSeq: _*))
    }
    ack(next, "delete", Some(v))
    (next, keys.size.toLong)
  }

  /** Compaction commit, then retention (`expireVersions`) and `vacuum`. */
  def maintain(keepLast: Int): Long = {
    val next = acked + 1
    record(next, state, Set.empty)
    digest("compact", Nil)
    val v = ctx.tracer.span("store.commitCompaction", "store") {
      TxStore.commitCompaction(ctx.spark, root, 2)
    }
    ack(next, "compaction", Some(v))
    ctx.tracer.span("store.retention", "store") {
      oldest = math.max(oldest, next - keepLast + 1)
      TxStore.expireVersions(root, keepLast)
      TxStore.vacuum(root)
    }
    next
  }

  private def ack(expected: Long, what: String, got: Option[Long] = None): Unit = {
    val v = got.orElse(TxStore.currentVersion(root)).get
    if (v != expected) throw new IllegalStateException(s"$what acknowledged v$v, expected v$expected")
    acked = v
  }

  /** (rows, exact price sum) of a frame in the model's terms. */
  def fingerprint(df: DataFrame): (Long, java.math.BigDecimal) = {
    val r = df.agg(count(lit(1)), sum(col("o_totalprice").cast(DecimalType(18, 2)))).collect()(0)
    (r.getLong(0), Option(r.getDecimal(1)).getOrElse(java.math.BigDecimal.ZERO).setScale(2))
  }

  def matches(v: Long, fp: (Long, java.math.BigDecimal)): Boolean =
    Option(fingerprints.get(v)).exists(e => e._1 == fp._1 && e._2.compareTo(fp._2) == 0)

  /** Keys whose row differs between versions a and b (the expected CDF size). */
  def changes(a: Long, b: Long): Long = {
    val (sa, sb) = (states.get(a), states.get(b))
    ((a + 1) to b).flatMap(v => Option(touched.get(v)).getOrElse(Set.empty[Long])).toSet.count(k => sa.get(k) != sb.get(k)).toLong
  }

  /** Final checks: the committed table equals the model exactly, and,
    * reopened from `_current` alone, every acknowledged version in the
    * retention window reads back its recorded state.
    */
  def verify(): Seq[String] = {
    val errs = mutable.ArrayBuffer.empty[String]
    val cur = TxStore.currentVersion(root)
    if (!cur.contains(acked)) errs += s"_current is $cur, last acknowledged v$acked"
    val expected = ctx.spark.createDataFrame(state.valuesIterator.map(_.toRow).toSeq.asJava, schema)
    val got = TxStore.read(ctx.spark, root).select(schema.fieldNames.map(col).toSeq: _*)
    val extra = got.exceptAll(expected).count()
    val missing = expected.exceptAll(got).count()
    if (extra + missing > 0) errs += s"final table differs from model: $extra extra, $missing missing rows"
    (oldest to acked).foreach { v =>
      val fp = fingerprint(TxStore.readVersion(ctx.spark, root, v))
      if (!matches(v, fp)) errs += s"v$v reads $fp, expected ${fingerprints.get(v)}"
    }
    errs.toSeq
  }

  def close(): Unit = if (stream.isActive) stream.stop()
}

object StoreTable {
  /** The table starts as the first 30,000 of the 150,000 orders: small
    * enough that a 12 s window holds dozens of commits and reads.
    */
  val InitRows = 30000L

  /** Data files of a directory tree by file key (hard links count once). */
  def dataFiles(dir: Path): Map[Object, Long] =
    if (!Files.exists(dir)) Map.empty
    else {
      val s = Files.walk(dir)
      try s.iterator().asScala.filter(p => Files.isRegularFile(p) && p.toString.endsWith(".parquet"))
        .map { p =>
          val a = Files.readAttributes(p, classOf[BasicFileAttributes])
          Option(a.fileKey()).getOrElse(p.toString: Object) -> a.size()
        }.toMap
      finally s.close()
    }

  /** Bytes of every regular file under `dir`, hard links counted once. */
  def treeBytes(dir: Path): Long =
    if (!Files.exists(dir)) 0L
    else {
      val s = Files.walk(dir)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map { p =>
        val a = Files.readAttributes(p, classOf[BasicFileAttributes])
        Option(a.fileKey()).getOrElse(p.toString: Object) -> a.size()
      }.toMap.values.sum
      finally s.close()
    }
}

/** Writer op: cycles of upsert micro-batches, appends and
  * deletion-vector deletes, each cycle closed by a compaction +
  * retention + vacuum.
  */
final class StoreWriteOp(ctx: Ctx, t: StoreTable, stats: StoreStats) extends Op {
  val name = "store_write"
  override val kind = "write"
  val family = "store"
  private val keepLast = 6
  // A fixed cycle closed by the maintenance write; the seed picks the
  // keys and rows of every batch. The order is fixed because it decides
  // how long a deletion vector stays live (until the next rewrite), and
  // so how many reads pay for applying one: the delete comes just before
  // the compaction, so reads that do are about a tenth, not a share near
  // the median that would tip it from one run to the next.
  private val mix = Seq("upsert", "append", "upsert", "append", "upsert", "append", "delete", "compact")
  private var cycle = Iterator.empty[String]

  def run(c: Client): Option[String] = {
    if (!cycle.hasNext) cycle = mix.iterator
    write(c, cycle.next())
  }

  private def write(c: Client, what: String): Option[String] = {
    ctx.group(c.opId)
    val t0 = System.nanoTime()
    val parent = TxStore.versionDir(t.root, t.acked)
    val (v, rows) = what match {
      case "upsert" => t.upsert(c.rnd)
      case "append" => t.append(c.rnd)
      case "delete" => t.delete(c.rnd)
      case _ => (t.maintain(keepLast), 0L)
    }
    c.label = what
    stats.write(what, (System.nanoTime() - t0) / 1e6, parent, TxStore.versionDir(t.root, v), rows,
      t.bytesPerRow)
    None
  }

  /** One full cycle (the model tracks it like any other). */
  override def warm(c: Client): Option[String] = mix.flatMap(write(c, _)).headOption
}

/** Reader op: `TxStore.read` + aggregate, `readVersion` inside the
  * retention window, or `changesBetween`, each checked against the model.
  */
final class StoreReadOp(ctx: Ctx, t: StoreTable, stats: StoreStats) extends Op {
  val name = "store_read"
  val family = "store"

  def run(c: Client): Option[String] =
    read(c, if (t.acked - t.oldest < 2) 0 else c.rnd.nextInt(3))

  private def read(c: Client, pick: Int): Option[String] = {
    ctx.group(c.opId)
    val cur = t.acked
    val t0 = System.nanoTime()
    pick match {
      case 0 =>
        val v0 = TxStore.currentVersion(t.root).get
        val fp = ctx.tracer.span("store.read", "store") { t.fingerprint(TxStore.read(ctx.spark, t.root)) }
        val v1 = TxStore.currentVersion(t.root).get
        c.label = "read"
        stats.read("read", (System.nanoTime() - t0) / 1e6)
        if ((v0 to v1).exists(t.matches(_, fp))) None else Some(s"read $fp matches no version in v$v0..v$v1")
      case 1 =>
        val v = math.max(t.oldest + 1, cur - c.rnd.nextInt(3))
        val fp = ctx.tracer.span("store.readVersion", "store") {
          t.fingerprint(TxStore.readVersion(ctx.spark, t.root, v))
        }
        c.label = "timetravel"
        stats.read("timetravel", (System.nanoTime() - t0) / 1e6)
        if (t.matches(v, fp)) None else Some(s"readVersion v$v reads $fp, expected ${t.fingerprints.get(v)}")
      case _ =>
        val a = math.max(t.oldest + 1, cur - 1 - c.rnd.nextInt(2))
        val n = ctx.tracer.span("store.changesBetween", "store") {
          TxStore.changesBetween(ctx.spark, t.root, a, cur, t.pk).count()
        }
        c.label = "cdf"
        stats.read("cdf", (System.nanoTime() - t0) / 1e6)
        val want = t.changes(a, cur)
        if (n == want) None else Some(s"changesBetween v$a..v$cur has $n rows, expected $want")
    }
  }

  /** Two reads of each kind. */
  override def warm(c: Client): Option[String] =
    Seq(0, 1, 2, 0, 1, 2).flatMap(k => read(c, k)).headOption
}

/** Per-call store statistics (the `store.*` per-layer metrics). */
final class StoreStats {
  val times = new ConcurrentHashMap[String, java.util.List[Double]]()
  val filesPerCommit = mutable.ArrayBuffer.empty[Double]
  val mbPerCommit = mutable.ArrayBuffer.empty[Double]
  val writeAmp = mutable.ArrayBuffer.empty[Double]
  @volatile var detail = false

  private def add(k: String, ms: Double): Unit =
    times.computeIfAbsent(k, _ => java.util.Collections.synchronizedList(new java.util.ArrayList[Double]())).add(ms)

  def read(what: String, ms: Double): Unit = add(what, ms)

  def write(what: String, ms: Double, parentDir: String, dir: String, rows: Long,
      bytesPerRow: Double): Unit = synchronized {
    add(what, ms)
    if (detail) {
      val before = StoreTable.dataFiles(Paths.get(parentDir))
      val after = StoreTable.dataFiles(Paths.get(dir))
      val fresh = after.filterNot { case (k, _) => before.contains(k) }.values.sum
      filesPerCommit += after.size.toDouble
      mbPerCommit += fresh / 1048576.0
      if (rows > 0) writeAmp += fresh / (rows * bytesPerRow)
    }
  }
}
