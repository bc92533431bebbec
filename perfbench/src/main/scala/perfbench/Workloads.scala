package perfbench

import java.nio.file.{Files, Path}

import graft.queries.QueryRegistry

/** A workload prepared for one session: the distinct ops, each
  * client's seeded op stream, and the checks that run after the window.
  */
final class Prepared(val ops: Seq[Op], val next: Seq[Client => Op],
    val finalChecks: () => Seq[String], val close: () => Unit,
    val store: Option[(StoreTable, StoreStats)] = None,
    val inputsDigest: () => String = () => "")

object Workloads {

  val names: Seq[String] = Seq("read_mix", "store_write")

  /** Registry rows of the two pipeline clients: q/f/g/v rows that write
    * nothing to disk (q38 and q58-q62/q65 excluded), a fixed cross-section
    * of rows that finish in about a second. The clients' shares are
    * disjoint, so each client cycles through its share several times per
    * window and the seeded order averages out.
    */
  val pipelineRows: Seq[Seq[String]] = Seq(
    Seq("q02_filter_daterange", "q07_latest_per_key", "q13_pivot_events", "q36_sessionize",
      "v01_contract_violations"),
    Seq("q47_grouping_sets", "q64_equidepth_histogram", "f05_safra_group", "g03_region_rollup"))

  /** Kernel rows of the curation client: dedup, ANN (a06 builds and
    * probes a persisted index), the graph row q65, and a text row backed
    * by graft.ops.
    */
  val kernelRows: Seq[String] = Seq(
    "d01_exact_dedup", "d03_simhash_pairs", "a06_ann_ivf_persisted", "a07_ann_batch_exact",
    "q65_hierarchy_flatten", "t13_group_heavy_hitters")

  def family(row: String): String = row.head match {
    case 'd' => "dedup"
    case 'a' => "ann"
    case 't' => "text"
    case 'v' => "validate"
    case 'q' if kernelRows.contains(row) => "graph"
    case _ => "query"
  }

  /** Base tables each workload preloads (footers, page cache, codegen). */
  def tables(w: String): Seq[String] = w match {
    case "read_mix" => Seq("lineitem", "orders", "customer", "events", "part", "documents", "embeddings")
    case _ => Seq("orders")
  }

  private def queryOps(ctx: Ctx, rows: Seq[String], pins: Map[String, Pin]): Seq[Op] =
    rows.map(r => new QueryOp(ctx, QueryRegistry.byName(r), family(r), pins.get(r)))

  /** A client that walks `ops` in a fresh seeded permutation per cycle. */
  private def cycling(ops: Seq[Op]): Client => Op = {
    var cycle = Iterator.empty[Op]
    c => {
      if (!cycle.hasNext) cycle = c.rnd.shuffle(ops).iterator
      cycle.next()
    }
  }

  def prepare(w: String, ctx: Ctx, dir: Path, seed: Long, pins: Map[String, Pin]): Prepared = {
    Files.createDirectories(dir)
    val rnd = new scala.util.Random(seed)
    w match {
      case "read_mix" =>
        val csv = (0 until 2).map(i => IngestOps.writeCsv(dir.resolve(s"cepea_$i.csv"), 20000, rnd))
        val json = (0 until 2).map(i => IngestOps.writeJson(dir.resolve(s"sidra_$i.json"), 200, rnd))
        val csvOps = queryOps(ctx, pipelineRows(0), pins) :+
          new IngestOp(ctx, "ingest_csv_br", csv, IngestOps.csvPipeline)
        val jsonOps = queryOps(ctx, pipelineRows(1), pins) :+
          new IngestOp(ctx, "ingest_json_sidra", json, IngestOps.jsonPipeline)
        val kernels = queryOps(ctx, kernelRows, pins)
        val digest = java.security.MessageDigest.getInstance("SHA-256")
        (csv ++ json).foreach(i => digest.update(Files.readAllBytes(java.nio.file.Paths.get(i.path))))
        val hex = digest.digest().map("%02x".format(_)).mkString
        new Prepared(csvOps ++ jsonOps ++ kernels, Seq(cycling(csvOps), cycling(jsonOps), cycling(kernels)),
          () => Nil, () => (), None, () => hex)
      case "store_write" =>
        val t = new StoreTable(ctx, dir)
        val stats = new StoreStats
        val writer = new StoreWriteOp(ctx, t, stats)
        val reader = new StoreReadOp(ctx, t, stats)
        new Prepared(Seq(writer, reader), Seq(_ => writer, _ => reader),
          () => t.verify(), () => t.close(), Some((t, stats)), () => t.batchDigest.toString)
      case other => throw new IllegalArgumentException(
        s"unknown workload '$other' (known: ${names.mkString(", ")})")
    }
  }
}
