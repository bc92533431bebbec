package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One executed op of the timed window. */
final case class Exec(client: Int, opId: String, op: Op, label: String, startNs: Long, endNs: Long,
    err: Option[String], traced: Boolean, gcMs: Long, heldMb: Double) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Benchmark JVM. Modes:
  *  - `datagen --data DIR`: writes the base tables once;
  *  - `run`: set-up (three rounds, the last one kept), one untimed pass
  *    over every op, the untimed closed-loop warm-up, the closed-loop
  *    timed window, the correctness pass, and one `PERFBENCH_RESULT`
  *    JSON line on stdout;
  *  - `pin`: runs each registry row of the workload once and prints its
  *    row count and hash (`PIN` lines) for the pinned-results file.
  */
object Main {
  private val SetupRounds = 3
  /** Untimed closed-loop seconds before the timed window (longer did not
    * steady the window further). */
  private val WarmupSeconds = 6.0

  def main(args: Array[String]): Unit = {
    val entryNs = System.nanoTime()
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val data = a("data")
    val root = Paths.get(a("root"))
    a.getOrElse("mode", "run") match {
      case "datagen" =>
        val spark = session(root)
        try DataGen.ensure(spark, Paths.get(data)) finally spark.stop()
      case "pin" => pin(root, data)
      case _ =>
        run(a("workload"), a("seed").toLong, a("seconds").toDouble, a("trace") == "1", root, data,
          Pin.load(Paths.get(a("pinned"))), entryNs, Paths.get(a("report")))
    }
  }

  /** The fixed session shape: local[4], 4 shuffle partitions, UTC, no UI,
    * every Spark directory under the run's scratch root.
    */
  def session(root: Path): SparkSession = {
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", root.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", root.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.functions.GraftFunctions.register(spark)
    spark
  }

  private def time[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e6)
  }

  /** Prints each registry row's pinned-result line (fingerprint of the
    * first run, time of the second).
    */
  private def pin(root: Path, data: String): Unit = {
    val spark = session(root)
    (Workloads.pipelineRows.flatten ++ Workloads.kernelRows).foreach { r =>
      val q = graft.queries.QueryRegistry.byName(r)
      val (fp, _) = time(Fingerprint.of(q.fn(spark, data)))
      val (n, ms) = time(q.fn(spark, data).count())
      println(s"PIN\t$r\t${fp._1}\t${fp._2}\t$n\t$ms")
    }
    spark.stop()
  }

  private def storageMb(spark: SparkSession): (Int, Double) = {
    val infos = spark.sparkContext.getRDDStorageInfo.filter(i => i.memSize + i.diskSize > 0)
    (infos.length, infos.map(i => i.memSize + i.diskSize).sum / 1048576.0)
  }

  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  private def run(w: String, seed: Long, seconds: Double, trace: Boolean, root: Path,
      data: String, pins: Map[String, Pin], entryNs: Long, report: Path): Unit = {
    // ---- set-up, several rounds: setup_s is their median ----
    val phases = mutable.ArrayBuffer.empty[Map[String, Double]]
    var spark: SparkSession = null
    var prepared: Prepared = null
    var ctx: Ctx = null
    val tracer = new Tracer
    (0 until SetupRounds).foreach { r =>
      val t0 = if (r == 0) entryNs else System.nanoTime()
      val (s, buildMs) = time(session(root))
      spark = s
      val (_, warmMs) = time(spark.range(1000000L).selectExpr("sum(id)").collect())
      val (_, preMs) = time(Workloads.tables(w).foreach(t => graft.queries.T.load(spark, data, t).count()))
      ctx = new Ctx(spark, data, tracer)
      val (p, genMs) = time(Workloads.prepare(w, ctx, root.resolve(s"inputs-$r"), seed, pins))
      prepared = p
      phases += Map("build" -> buildMs, "warmup" -> warmMs, "preload" -> preMs,
        "inputgen" -> genMs, "total" -> (System.nanoTime() - t0) / 1e6)
      if (r < SetupRounds - 1) { prepared.close(); spark.stop() }
    }

    // ---- first pass, untimed: the checks a timed op cannot afford;
    // independent read ops run four at a time, store ops in order ----
    val (firstErrs, firstPassMs) = time {
      val errs = new java.util.concurrent.ConcurrentHashMap[String, String]()
      val queue = new java.util.concurrent.ConcurrentLinkedQueue[Op](prepared.ops.asJava)
      val width = if (prepared.store.isDefined) 1 else 4
      val workers = (0 until width).map { i =>
        val t = new Thread(() => {
          val c = new Client(-1 - i, new scala.util.Random(seed + i))
          c.opId = "warm"
          ctx.group("warm")
          var op = queue.poll()
          while (op != null) {
            val e = try op.warm(c) catch { case e: Throwable => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
            e.foreach(errs.put(op.name, _))
            op = queue.poll()
          }
        }, s"first-pass-$i")
        t.start(); t
      }
      workers.foreach(_.join())
      errs.asScala.toMap
    }

    // ---- the closed loop: one thread per client, each sending its next
    // op when the previous one returned. It runs twice: untimed for
    // WarmupSeconds (JIT, codegen and the table's state reach the window's
    // steady state under the window's own concurrency), then timed ----
    val clients = prepared.next.indices.map(id => new Client(id, new scala.util.Random(seed * 7919L + id)))
    val coins = prepared.next.indices.map(id => new scala.util.Random(seed * 31L + id))
    val execs = new java.util.concurrent.ConcurrentLinkedQueue[Exec]()
    val warmExecs = new java.util.concurrent.ConcurrentLinkedQueue[Exec]()
    val heldPrev = new java.util.concurrent.atomic.AtomicReference[Double](0.0)
    val growth = new java.util.concurrent.atomic.AtomicInteger(0)
    val orders = prepared.next.indices.map(_ => mutable.ArrayBuffer.empty[String])
    def closedLoop(deadline: Long, timed: Boolean): Unit = {
      val threads = prepared.next.zipWithIndex.map { case (next, id) =>
        val t = new Thread(() => {
          val c = clients(id)
          var i = 0
          while (System.nanoTime() < deadline) {
            val op = next(c)
            c.opId = if (timed) s"c$id-$i" else s"w$id-$i"
            c.label = op.name
            val traced = timed && trace && coins(id).nextBoolean()
            val gc0 = if (traced) gcMs else 0L
            val t0 = System.nanoTime()
            val err = try tracer.op(c.opId, op.name, traced,
                Map("op" -> op.name, "workload" -> w, "client" -> id.toString))(op.run(c))
              catch { case e: Throwable => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
            val t1 = System.nanoTime()
            val held = if (traced) {
              val h = storageMb(spark)._2
              if (h > heldPrev.getAndSet(h) + 1e-9) growth.incrementAndGet()
              h
            } else 0.0
            val e = Exec(id, c.opId, op, c.label, t0, t1, err, traced, if (traced) gcMs - gc0 else 0L, held)
            if (timed) { orders(id) += op.name; execs.add(e) } else warmExecs.add(e)
            i += 1
          }
        }, s"client-$id")
        t.start(); t
      }
      threads.foreach(_.join())
    }
    closedLoop(System.nanoTime() + (WarmupSeconds * 1e9).toLong, timed = false)
    // an op that failed before the window fails every execution of it
    val warmErrs = firstErrs ++ warmExecs.asScala.flatMap(e => e.err.map(e.op.name -> _)).toMap

    // ---- listeners (traced runs only) ----
    val exec = new ExecListener
    val streamL = new StreamListener
    if (trace) {
      spark.sparkContext.addSparkListener(exec)
      spark.streams.addListener(streamL)
      prepared.store.foreach(_._2.detail = true)
    }
    prepared.store.foreach(_._2.times.clear())
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).foreach(_.resetPeakUsage())

    // ---- timed window ----
    heldPrev.set(storageMb(spark)._2)
    val windowStart = System.nanoTime()
    closedLoop(windowStart + (seconds * 1e9).toLong, timed = true)
    val windowEnd = execs.asScala.map(_.endNs).maxOption.getOrElse(System.nanoTime())
    val (rddsHeld, heldMb) = storageMb(spark)
    val tmpLeftMb = StoreTable.treeBytes(Paths.get(System.getProperty("java.io.tmpdir"))) / 1048576.0
    val heapPeakMb = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getPeakUsage.getUsed).sum / 1048576.0

    // ---- correctness after the window: the workload's final checks ----
    ctx.group("check")
    val finalErrs = try prepared.finalChecks() catch { case e: Throwable => Seq(s"final check threw: $e") }
    val spaceAmp = prepared.store.map { case (t, _) =>
      val live = Paths.get(graft.store.TxStore.versionDir(t.root, t.acked))
      StoreTable.treeBytes(Paths.get(t.root)).toDouble / StoreTable.dataFiles(live).values.sum
    }
    prepared.close()

    val all = execs.asScala.toSeq.sortBy(_.startNs)
    val failedIds = all.filter(e => e.err.isDefined || warmErrs.contains(e.op.name)).map(_.opId).toSet
    // a wrong final state or a first-pass failure of an op the window
    // never reached still fails the run
    val failed = failedIds.size + finalErrs.size.min(1) +
      (warmErrs.keySet -- all.map(_.op.name)).size
    val errors = all.flatMap(e => e.err.map(m => s"${e.opId} ${e.op.name}: $m")).take(20) ++
      warmErrs.map { case (k, v) => s"before the window $k: $v" } ++ finalErrs

    // ---- metrics ----
    def pct(xs: Seq[Double], p: Double): Double =
      if (xs.isEmpty) 0.0 else { val s = xs.sorted; s(math.max(0, math.ceil(p * s.size).toInt - 1)) }
    // Harrell-Davis quantile: a Beta-weighted average of all order
    // statistics, far steadier than one order statistic of a few samples.
    def hd(xs0: Seq[Double], p: Double): Double = {
      val xs = xs0.sorted
      val n = xs.size
      if (n < 2) xs.headOption.getOrElse(0.0)
      else {
        val (a, b) = ((n + 1) * p, (n + 1) * (1 - p))
        def beta(c: Double) = org.apache.commons.math3.special.Beta.regularizedBeta(c, a, b)
        xs.indices.map(i => xs(i) * (beta((i + 1.0) / n) - beta(i.toDouble / n))).sum
      }
    }
    // Latency percentile over op types: the geometric mean of each type's
    // own percentile. Every type counts once (the seeded closed-loop mix is
    // uniform over op types in the long run, and a short window would
    // otherwise weight them by the accident of which ones fit in it), and
    // unlike a percentile of the pooled executions it does not sit in the
    // gap between a fast and a slow type (store reads vs change feeds),
    // where a small shift in either moves it far.
    def typeGeo(es: Seq[Exec], p: Double): Double = {
      val byType = es.groupBy(_.label).values.toSeq
      if (byType.isEmpty) 0.0
      else math.exp(byType.map(g => math.log(hd(g.map(_.ms), p).max(1e-9))).sum / byType.size)
    }
    def mean(xs: Iterable[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    def median(xs: Seq[Double]): Double = pct(xs, 0.5)
    val reads = all.filter(_.op.kind == "read")
    val writes = all.filter(_.op.kind == "write")
    val windowS = (windowEnd - windowStart) / 1e9
    val m = mutable.LinkedHashMap.empty[String, Double]
    if (!trace) {
      m("setup_s") = median(phases.map(_("total")).toSeq) / 1000.0
      m("op_p50_ms") = typeGeo(reads, 0.5)
      m("op_p90_ms") = typeGeo(reads, 0.9)
      // each client's ops over its own share of the window (until its last
      // op returned), summed: the one long op a client ends on does not
      // stretch the others' time
      m("ops_per_s") = all.groupBy(_.client).values.map(es =>
        es.size / ((es.map(_.endNs).max - windowStart) / 1e9)).sum
      m("all_ops_p90_ms") = typeGeo(all, 0.9)
    } else {
      Seq("build", "warmup", "preload", "inputgen").foreach { k =>
        m(s"session.${k}_ms") = median(phases.map(_(k)).toSeq)
      }
      m("session.first_pass_ms") = firstPassMs
      val spans = tracer.spans.asScala.toSeq
      def spanMean(prefix: String) = mean(spans.filter(_.name.startsWith(prefix)).map(_.ms))
      val ingest = all.filter(_.op.isInstanceOf[IngestOp])
      m("ingest.scan_ms") = spanMean("ingest.")
      m("ingest.rows_per_s") = if (ingest.isEmpty) 0.0
        else ingest.map(_.op.asInstanceOf[IngestOp].rowsPer).sum / (ingest.map(_.ms).sum / 1000.0)
      val queries = all.filter(_.op.isInstanceOf[QueryOp])
      val jobs = exec.synchronized(exec.jobs.values.toSeq)
      val opIds = all.map(_.opId).toSet
      val grouped = jobs.filter(j => exec.opOf(j).exists(opIds.contains))
      m("queries.build_ms") = spanMean("queries.build")
      m("queries.eager_jobs") = if (queries.isEmpty) 0.0 else {
        val qIds = queries.map(_.opId).toSet
        grouped.count(j => j.group.exists(g => g.endsWith("/build") && qIds.contains(g.takeWhile(_ != '/')))).toDouble / queries.size
      }
      m("validate.op_ms") = mean(all.filter(e => e.op.family == "validate" || e.op.family == "ingest").map(_.ms))
      Seq("dedup", "ann", "graph", "text").foreach { f =>
        m(s"ops.${f}_ms") = mean(all.filter(_.op.family == f).map(_.ms))
      }
      val kernelIds = all.filter(e => Set("dedup", "ann", "graph", "text").contains(e.op.family)).map(_.opId).toSet
      m("ops.jobs_per_op") = if (kernelIds.isEmpty) 0.0
        else grouped.count(j => exec.opOf(j).exists(kernelIds.contains)).toDouble / kernelIds.size
      m("ops.tmp_left_mb") = tmpLeftMb
      // exec: every job attributed to an op of the window, per op
      val n = math.max(1, all.size).toDouble
      val (stageSet, tasks, submit) = exec.synchronized {
        val st = grouped.flatMap(_.stages).toSet
        (st, exec.tasks.filter(t => st.contains(t.stage)).toSeq, exec.stageSubmitMs.toMap)
      }
      m("exec.jobs") = grouped.size / n
      m("exec.stages") = stageSet.count(submit.contains) / n
      m("exec.tasks") = tasks.size / n
      m("exec.task_run_ms") = tasks.map(_.runMs).sum / n
      m("exec.task_cpu_ms") = tasks.map(_.cpuMs).sum / n
      m("exec.task_gc_ms") = tasks.map(_.gcMs).sum / n
      m("exec.sched_wait_ms") = mean(tasks.flatMap(t => submit.get(t.stage).map(s => (t.launchMs - s).toDouble.max(0))))
      m("exec.task_skew") = tasks.groupBy(_.stage).values.filter(_.size >= 4).map { ts =>
        val d = ts.map(_.durMs.toDouble)
        val med = median(d)
        if (med > 0) d.max / med else 1.0
      }.maxOption.getOrElse(1.0)
      m("exec.shuffle_read_mb") = tasks.map(_.shuffleReadB).sum / 1048576.0 / n
      m("exec.shuffle_write_mb") = tasks.map(_.shuffleWriteB).sum / 1048576.0 / n
      m("exec.spill_mb") = tasks.map(_.spillB).sum / 1048576.0 / n
      m("exec.peak_exec_mem_mb") = tasks.map(_.peakMemB).maxOption.getOrElse(0L) / 1048576.0
      m("exec.ungrouped_jobs") = jobs.count(_.group.isEmpty).toDouble
      val traced = all.filter(_.traced)
      m("cache.rdds_held") = rddsHeld.toDouble
      m("cache.held_mb_max") = traced.map(_.heldMb).maxOption.getOrElse(0.0).max(heldMb)
      m("cache.growth_ops") = growth.get.toDouble
      m("cache.storage_held_mb") = heldMb
      m("jvm.gc_ms") = mean(traced.map(_.gcMs.toDouble))
      m("jvm.heap_used_peak_mb") = heapPeakMb
      val st = prepared.store.map(_._2)
      def times(k: String): Seq[Double] =
        st.flatMap(s => Option(s.times.get(k))).map(l => l.synchronized(l.asScala.toSeq)).getOrElse(Nil)
      Seq("upsert", "append", "delete").foreach(k => m(s"store.${k}_ms") = mean(times(k)))
      m("store.compact_ms") = mean(times("compact"))
      m("store.retention_ms") = spanMean("store.retention")
      m("store.files_per_commit") = st.map(s => mean(s.filesPerCommit)).getOrElse(0.0)
      m("store.mb_per_commit") = st.map(s => mean(s.mbPerCommit)).getOrElse(0.0)
      m("store.write_amp") = st.map(s => mean(s.writeAmp)).getOrElse(0.0)
      m("store.conflicts") = all.count(_.err.exists(_.contains("ConcurrentCommit"))).toDouble
      m("store.read_ms") = mean(times("read"))
      m("store.timetravel_ms") = mean(times("timetravel"))
      m("store.cdf_ms") = mean(times("cdf"))
      m("store.write_p50_ms") = typeGeo(writes, 0.5)
      m("store.write_p90_ms") = typeGeo(writes, 0.9)
      m("store.space_amp") = spaceAmp.getOrElse(0.0)
      val prog = streamL.progress.asScala.toSeq
      def dur(k: String) = mean(prog.flatMap(_._2.get(k)).map(_.toDouble))
      m("streaming.trigger_ms") = dur("triggerExecution")
      m("streaming.add_batch_ms") = dur("addBatch")
      m("streaming.wal_commit_ms") = dur("walCommit")
      m("streaming.planning_ms") = dur("queryPlanning")
      m("streaming.rows_per_batch") = mean(prog.map(_._1.toDouble))
      val tr = reads.filter(_.traced)
      val un = reads.filterNot(_.traced)
      m("trace.overhead_frac") = if (tr.isEmpty || un.isEmpty) 0.0 else typeGeo(tr, 0.5) / typeGeo(un, 0.5) - 1.0
      writeSpans(report.resolveSibling(report.getFileName.toString.stripSuffix(".json") + "-spans.json"),
        tracer, exec, all, w, seed)
    }

    // ---- report ----
    val detail = Json.obj(Seq(
      "workload" -> Json.str(w), "seed" -> seed.toString, "trace" -> trace.toString,
      "attempted" -> all.size.toString, "failed" -> failed.toString,
      "reads" -> reads.size.toString, "writes" -> writes.size.toString,
      "window_s" -> windowS.toString,
      "inputs_digest" -> Json.str(prepared.inputsDigest()),
      "setup_rounds_ms" -> Json.arr(phases.map(p => Json.obj(p.toSeq.map { case (k, v) => k -> Json.num(v) })).toSeq),
      "first_pass_ms" -> Json.num(firstPassMs),
      "op_order" -> Json.arr(orders.map(o => Json.arr(o.toSeq.map(Json.str))).toSeq),
      "per_op_ms" -> Json.obj(all.groupBy(_.label).toSeq.sortBy(_._1).map { case (k, es) =>
        k -> Json.arr(es.map(_.ms.toString)) }),
      "errors" -> Json.arr(errors.map(Json.str)),
      "metrics" -> Json.obj(m.toSeq.map { case (k, v) => k -> Json.num(v) })))
    Files.createDirectories(report.getParent)
    Files.writeString(report, detail + "\n")
    errors.foreach(e => System.err.println(s"[perfbench] error: $e"))
    println("PERFBENCH_RESULT " + Json.obj(Seq(
      "correct" -> (failed == 0 && all.nonEmpty).toString,
      "attempted" -> all.size.toString, "failed" -> failed.toString,
      "metrics" -> Json.obj(m.toSeq.map { case (k, v) => k -> Json.num(v) }))))
    spark.stop()
  }

  /** Spans as JSON: op roots and layer children from the tracer, plus
    * one span per listener job (and its stages) linked by job group.
    */
  private def writeSpans(path: Path, tracer: Tracer, exec: ExecListener, all: Seq[Exec],
      w: String, seed: Long): Unit = {
    val roots = tracer.spans.asScala.filter(_.parent == 0L).map(s => s.op -> s.id).toMap
    val offNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
    exec.synchronized {
      exec.jobs.values.foreach { j =>
        exec.opOf(j).flatMap(op => roots.get(op).map(op -> _)).foreach { case (op, rootId) =>
          val end = if (j.endMs > 0) j.endMs else j.startMs
          val jid = tracer.add(rootId, op, s"job ${j.id}", "exec", j.startMs * 1000000L - offNs,
            end * 1000000L - offNs, Map("group" -> j.group.getOrElse("")))
          j.stages.foreach { s =>
            for (a <- exec.stageSubmitMs.get(s); b <- exec.stageEndMs.get(s))
              tracer.add(jid, op, s"stage $s", "exec", a * 1000000L - offNs, b * 1000000L - offNs, Map.empty)
          }
        }
      }
    }
    val spans = tracer.spans.asScala.toSeq.sortBy(_.startNs)
    val self = tracer.selfTimeMs
    Files.writeString(path, Json.obj(Seq(
      "workload" -> Json.str(w), "seed" -> seed.toString,
      "self_time_ms" -> Json.obj(self.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) }),
      "spans" -> Json.arr(spans.map(s => Json.obj(Seq(
        "id" -> s.id.toString, "parent" -> s.parent.toString, "op" -> Json.str(s.op),
        "name" -> Json.str(s.name), "layer" -> Json.str(s.layer),
        "start_ns" -> s.startNs.toString, "dur_ms" -> Json.num(s.ms),
        "attrs" -> Json.obj(s.attrs.toSeq.map { case (k, v) => k -> Json.str(v) }))))))) + "\n")
  }
}

/** Minimal JSON writer (values are pre-rendered JSON). */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def obj(kv: Seq[(String, String)]): String = kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
  def arr(vs: Seq[String]): String = vs.mkString("[", ",", "]")
  /** A finite number; NaN and infinities (an empty ratio) read as 0. */
  def num(v: Double): String = if (v.isNaN || v.isInfinite) "0.0" else v.toString
}
