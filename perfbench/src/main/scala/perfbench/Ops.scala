package perfbench

import java.nio.file.Path

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** What every op of a run shares: the session, the base tables and the
  * tracer.
  */
final class Ctx(val spark: SparkSession, val data: String, val tracer: Tracer) {
  /** Tags the calling thread's next Spark jobs with `id`. */
  def group(id: String): Unit = spark.sparkContext.setJobGroup(id, id, false)
}

/** The op a client thread is running: its id (`<client>-<seq>`) and its
  * type label for the latency percentiles (the op name, or the kind of
  * read or write a store op chose).
  */
final class Client(val id: Int, val rnd: scala.util.Random) {
  var opId: String = ""
  var label: String = ""
}

/** One operation of a workload. `run` is timed and checks the op's own
  * output, returning the error when it is wrong. `warm` is the untimed
  * first execution before the window (JIT, codegen, lazy set-up) and
  * checks whatever `run` cannot afford to.
  */
trait Op {
  def name: String
  /** "read" or "write". */
  def kind: String = "read"
  /** Layer family for the per-layer metrics (query, ingest, validate,
    * dedup, ann, graph, text, store).
    */
  def family: String
  def run(c: Client): Option[String]
  def warm(c: Client): Option[String] = run(c)
}

/** Pinned result of a registry row: row count and order-insensitive
  * hash ("*" = rows-only, for results whose float digits are not
  * reproducible).
  */
final case class Pin(rows: Long, hash: String)

object Pin {
  /** Reads `name<TAB>rows<TAB>hash` lines. */
  def load(path: Path): Map[String, Pin] =
    if (!java.nio.file.Files.exists(path)) Map.empty
    else scala.io.Source.fromFile(path.toFile, "UTF-8").getLines()
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l => val f = l.split('\t'); f(0) -> Pin(f(1).toLong, f(2)) }.toMap
}

/** Order-insensitive fingerprint of a frame: row count plus the sum
  * (mod 1e9+7) and the XOR of one xxhash64 per row, all columns
  * included — so every result column is computed, unlike `count()`,
  * which lets the optimizer prune them. Floating columns are rounded to
  * 6 decimals first so accumulation-order noise in the last bits does
  * not read as a wrong result.
  */
object Fingerprint {
  def of(df: DataFrame): (Long, String) = {
    val pos = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = pos.schema.fields.map(f => norm(col(f.name), f.dataType)).toSeq
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    val r = pos.agg(count(lit(1)), sum(pmod(h, lit(1000000007L))), bit_xor(h)).collect()(0)
    (r.getLong(0), s"${if (r.isNullAt(1)) 0L else r.getLong(1)}:${if (r.isNullAt(2)) 0L else r.getLong(2)}")
  }

  private def norm(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType => round(c.cast(DoubleType), 6) + lit(0.0)
    case ArrayType(DoubleType | FloatType, _) =>
      transform(c, x => round(x.cast(DoubleType), 6) + lit(0.0))
    case _: MapType | _: StructType | _: ArrayType => to_json(c)
    case _ => c
  }
}

/** A registry row: `Q.fn` builds the frame (timed as `queries.build`,
  * its eager jobs grouped under `<op>/build`), then the fingerprint
  * action runs it and is checked against the pinned result.
  */
final class QueryOp(ctx: Ctx, q: graft.queries.Q, val family: String,
    pin: Option[Pin]) extends Op {
  val name: String = q.name

  def run(c: Client): Option[String] = {
    ctx.group(s"${c.opId}/build")
    val df = ctx.tracer.span("queries.build", "queries") { q.fn(ctx.spark, ctx.data) }
    ctx.group(c.opId)
    val (n, h) = ctx.tracer.span("exec.action", "exec") { Fingerprint.of(df) }
    pin match {
      case None => Some(s"no pinned result (rows=$n hash=$h)")
      case Some(p) if p.rows != n => Some(s"rows $n != pinned ${p.rows}")
      case Some(p) if p.hash != "*" && p.hash != h => Some(s"hash $h != pinned ${p.hash}")
      case _ => None
    }
  }
}
