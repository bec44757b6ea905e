package streambench

import java.io.File

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.io.Io
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryProgress

/** The two workloads and the live pass. Each workload returns its end-to-end
  * metrics (measured with tracing off), and in a traced run the per-layer
  * metrics too. */
object Workloads {
  import Main.pct

  /** A workload's results. `named` holds the metrics under the names the
    * workload is specified with, each with its unit and sample count. */
  final case class Outcome(e2e: Map[String, Double], layers: Map[String, Double],
                           named: Seq[(String, (Double, String, Int))], attempted: Int,
                           failed: Int, checks: Seq[Chain.Check], spans: Option[String],
                           inputs: Map[String, Double])

  /** The backfill slice: 10 minutes of traffic across midnight, so the
    * is_new repair and the daily-UV state see a day change. */
  val backfillConfig: Gen.Config = Gen.Config(events = 60000, devices = 6000, users = 3000,
    skus = 300, orders = 6000,
    startMs = java.time.Instant.parse("2021-04-01T23:55:00Z").toEpochMilli, spanMs = 600000L)

  /** The untimed warm-up slice: the same shape, a tenth of the size. */
  val warmupConfig: Gen.Config = backfillConfig.copy(events = 6000, devices = 600, users = 300,
    orders = 600)

  /** CDC files: the bootstrap file, then one file per micro-batch of `base_db`. */
  val cdcFiles = 8

  private def ms(p: StreamingQueryProgress, k: String): Double =
    Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)

  /** Micro-batch engine totals over every progress report of the run. */
  def batchLayers(progress: Seq[StreamingQueryProgress]): Map[String, Double] =
    Map("batch.count" -> progress.size.toDouble,
      "batch.p50_s" -> pct(progress.map(ms(_, "triggerExecution") / 1000.0), 50)) ++
      Seq("latest_offset" -> "latestOffset", "get_batch" -> "getBatch",
        "query_planning" -> "queryPlanning", "add_batch" -> "addBatch",
        "wal_commit" -> "walCommit", "commit_offsets" -> "commitOffsets").map {
        case (n, k) => s"batch.${n}_ms" -> progress.map(ms(_, k)).sum
      }

  /** State size at the end of the run (last report of each query) and
    * total state commit time, per stateful app. */
  def stateLayers(tracer: Tracer, apps: Seq[String]): Map[String, Double] =
    apps.flatMap { a =>
      val ps = tracer.progressOf(a)
      val last = ps.groupBy(_.id).values.map(_.maxBy(_.batchId)).toSeq
      val ops = last.flatMap(_.stateOperators.toSeq)
      Seq(s"state.$a.rows" -> ops.map(_.numRowsTotal.toDouble).sum,
        s"state.$a.bytes" -> ops.map(_.memoryUsedBytes.toDouble).sum) ++
        (if (Chain.liveApps.contains(a))
          Seq(s"state.$a.commit_ms" -> ps.flatMap(_.stateOperators.toSeq).map(_.commitTimeMs.toDouble).sum)
         else Nil)
    }.toMap

  def sparkLayers(tracer: Tracer, wallS: Double): Map[String, Double] =
    Seq("spark.jobs", "spark.stages", "spark.tasks", "spark.shuffle_read_bytes",
      "spark.shuffle_write_bytes", "spark.spill_bytes").map(k => k -> tracer.counter(k).toDouble)
      .toMap + ("spark.task_busy_share" ->
      tracer.counter("spark.task_time_ms") / (wallS * 1000.0 * Main.cores))

  /** Rows in and out of each app, counted from the topic directories. */
  def rowLayers(w: File, steps: Seq[Chain.Step]): Map[String, Double] =
    steps.flatMap { s =>
      val (ins, outs) = Chain.topics(s)
      Seq(s"app.${s.app}.rows_in" -> ins.map(t => Sinks.rows(new File(w, s"${s.in}/$t"))).sum.toDouble,
        s"app.${s.app}.rows_out" -> outs.map(t => Sinks.rows(new File(w, s"${s.out}/$t"))).sum.toDouble)
    }.toMap

  /** `base_log` queries that scan `ods_base_log`, times its lines, per event. */
  def sourceReads(tracer: Tracer, w: File, events: Double): Double = {
    val readers = tracer.progressOf("base_log")
      .filter(_.sources.exists(_.description.contains("ods_base_log"))).map(_.id).distinct.size
    readers * Sinks.rows(new File(w, "in/ods_base_log")) / events
  }

  /** Polls a directory and sums the bytes of every distinct file that ever
    * appears in it: what a rewrite-on-upsert store writes. */
  final class DirWatcher(dir: File) {
    private val seen = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
    @volatile private var running = true
    private def scan(): Unit = if (dir.exists()) {
      try java.nio.file.Files.walk(dir.toPath).iterator().asScala
        .filter(p => p.getFileName.toString.endsWith(".parquet"))
        .foreach(p => try seen.put(p.getFileName.toString, java.nio.file.Files.size(p))
          catch { case _: java.io.IOException => () })
      catch { case _: java.io.UncheckedIOException | _: java.io.IOException => () }
    }
    private val thread = new Thread(() => while (running) { scan(); Thread.sleep(20) },
      "dim-store-watcher")
    thread.setDaemon(true)
    thread.start()
    def stop(): Long = {
      running = false; thread.join(); scan()
      seen.values.asScala.map(_.longValue).sum
    }
  }

  private def appFailures(apps: Seq[String], runs: Seq[Chain.AppRun],
                          checks: Seq[Chain.Check]): Int =
    apps.count(a => runs.exists(r => r.app == a && r.error.nonEmpty) ||
      checks.exists(c => !c.ok && c.name.takeWhile(_ != '/') == a))

  // ---------------- chain_backfill ----------------

  def backfill(spark: SparkSession, work: File, seed: Long, seconds: Int,
               traced: Boolean): Outcome = {
    def gen(name: String, c: Gen.Config): (File, Map[String, Double]) = {
      val d = new File(work, name)
      Main.deleteTree(d)
      (d, Gen.writeBackfill(d, seed, c, logFiles = 8, cdcFiles = cdcFiles))
    }
    // warm-up: a small slice drained untimed, so that class loading, JIT and
    // code generation stay out of the timed drains
    val off = new Tracer(spark, enabled = false, "chain_backfill")
    val tWarm = System.nanoTime()
    Chain.drain(spark, gen("warmup", warmupConfig)._1, off, Chain.timedSteps)
    println(f"warm-up drain ${(System.nanoTime() - tWarm) / 1e9}%.2f s")
    // timed drains of the same slice, each in a fresh directory, until
    // `seconds` have passed (a traced run times one); then the retained heap
    val tr = new Tracer(spark, enabled = traced, "chain_backfill")
    val start = System.currentTimeMillis()
    val drains = mutable.ArrayBuffer.empty[(File, Seq[Chain.AppRun], Double)]
    var counts = Map.empty[String, Double]
    while (drains.isEmpty || (!traced && System.currentTimeMillis() - start < seconds * 1000L)) {
      val (d, c) = gen(s"drain_${drains.size}", backfillConfig)
      counts = c
      val t0 = System.nanoTime()
      val runs = Chain.drain(spark, d, tr, Chain.timedSteps)
      drains += ((d, runs, (System.nanoTime() - t0) / 1e9))
    }
    val heapMb = Main.liveHeapMb()
    val (dir, timedRuns, _) = drains.head
    // a traced run drains the rest of the chain and the CDC router on the
    // first drain's directory, all traced
    val rest = if (traced) Chain.drain(spark, dir, tr, Chain.backfillSteps.drop(1)) else Nil
    val watcher = if (traced) Some(new DirWatcher(new File(dir, "out_db/hbase_dims"))) else None
    val cdcRun = if (traced) Chain.drain(spark, dir, tr, Seq(Chain.cdcStep)) else Nil
    val rewritten = watcher.map(_.stop()).getOrElse(0L)
    val end = System.currentTimeMillis()
    tr.close()
    val tCheck = System.nanoTime()
    val checks = Chain.check(spark, dir, timedRuns ++ rest ++ cdcRun)
    println(f"check ${(System.nanoTime() - tCheck) / 1e9}%.2f s")

    val events = counts("events.ods")
    val walls = drains.map(_._3).toSeq
    val batchS = drains.flatMap(_._2).flatMap(_.queries).flatMap(_.recentProgress)
      .map(ms(_, "triggerExecution") / 1000.0).toSeq
    println(f"${drains.size} timed drains: ${walls.map(w => f"$w%.2f").mkString(" ")} s, " +
      f"${batchS.size} micro-batches")
    (timedRuns ++ rest ++ cdcRun).foreach(r => println(f"app ${r.app}%-22s ${r.wall}%7.2f s"))
    val wall = pct(walls, 50)
    val e2e = Map("throughput_per_s" -> events / wall, "latency_p50_s" -> pct(batchS, 50),
      "live_heap_mb" -> heapMb)
    val appsRun = (timedRuns ++ rest ++ cdcRun).map(_.app)
    val failedApps = appFailures(appsRun, drains.flatMap(_._2).toSeq ++ rest ++ cdcRun, checks)
    val named = Seq("backfill_events_per_s" -> (events / wall, "1/s", walls.size),
      "error_rate" -> (failedApps.toDouble / appsRun.size, "ratio", appsRun.size))
    val layers = mutable.Map[String, Double]() ++ named.map { case (k, (v, _, _)) => k -> v } +
      ("samples.latency" -> batchS.size.toDouble)
    var spans: Option[String] = None
    if (traced) {
      val cdc = tr.progressOf("base_db")
      val dimDir = new File(dir, "out_db/hbase_dims")
      val chain = timedRuns ++ rest
      layers ++= (chain ++ cdcRun).map(r => s"app.${r.app}.wall_s" -> r.wall) ++
        rowLayers(dir, Chain.cdcStep +: Chain.backfillSteps) ++
        batchLayers(tr.progress.asScala.toSeq) ++
        stateLayers(tr, chain.map(_.app).filter(Main.stateful.contains)) ++
        sparkLayers(tr, (end - start) / 1000.0) ++ Map(
        "dwd.source_reads_per_event" -> sourceReads(tr, dir, events),
        "cdc.batches" -> cdc.size.toDouble,
        "cdc.batch_ms" -> pct(cdc.map(ms(_, "triggerExecution")), 50),
        "cdc.dim_store_rows" -> Option(dimDir.listFiles()).getOrElse(Array.empty[File])
          .filter(_.isDirectory).map(d => Io.readDim(spark, d.getPath).count().toDouble).sum,
        "cdc.write_amplification" -> rewritten / counts("cdc.dim_bytes"),
        "trace.overhead_share" -> tr.overheadShare((end - start) / 1000.0))
      spans = Some(tr.spanJson(start, end))
      // the timed app once more on one core, traced like the four-core drain
      spark.stop()
      val one = Main.chainSession("local[1]")
      val trOne = new Tracer(one, enabled = true, "chain_backfill")
      val oneCore = Chain.drain(one, gen("one_core", backfillConfig)._1, trOne,
        Chain.timedSteps).head.wall
      trOne.close()
      one.stop()
      layers("backfill.speedup_1core") = oneCore / timedRuns.head.wall
      println(f"base_log ${timedRuns.head.wall}%.2f s on four cores, $oneCore%.2f s on one")
    }
    Outcome(e2e, layers.toMap, named, attempted = checks.size,
      failed = checks.count(!_.ok), checks, spans, counts)
  }

  // ---------------- live pass (traced runs only) ----------------

  /** Offered load of the live pass: events/s, warm-up and measured seconds. */
  val liveRate = 200
  val liveWarmupS = 10
  val liveSeconds = 15

  /** The seven live queries under an open loop, traced: freshness, backlog,
    * per-batch cost and state commit time, plus the pass's output checks. */
  def livePass(spark: SparkSession, work: File, seed: Long): (Map[String, Double], Seq[Chain.Check]) = {
    val dir = new File(work, "live")
    Main.deleteTree(dir)
    val tr = new Tracer(spark, enabled = true, "chain_live")
    val run = Chain.live(spark, dir, seed, liveRate, liveWarmupS, liveSeconds, tr)
    tr.close()
    val st = Chain.liveStats(dir, run)
    val checks = Chain.check(spark, dir, run.queries) :+
      Chain.Check("chain_live/dwd_page_log exactly once", st.notExactlyOnce == 0,
        s"offered=${st.offeredPages} not_exactly_once=${st.notExactlyOnce}")
    val layers = Map(
      "live_dwd_fresh_p50_s" -> pct(st.dwdFresh, 50), "live_dwd_fresh_p99_s" -> pct(st.dwdFresh, 99),
      "live_dws_fresh_p50_s" -> pct(st.dwsFresh, 50), "live_dws_fresh_p95_s" -> pct(st.dwsFresh, 95),
      "live.backlog_s" -> pct(st.backlog, 50),
      "live.gen_late_ms" -> (if (st.genLateMs.isEmpty) 0.0 else st.genLateMs.max),
      "dwd.source_reads_per_event" -> sourceReads(tr, dir, run.lines.length.toDouble)) ++
      Chain.liveApps.map(app => s"app.$app.wall_s" ->
        tr.progressOf(app).map(ms(_, "triggerExecution") / 1000.0).sum) ++
      rowLayers(dir, Chain.liveSteps) ++ batchLayers(tr.progress.asScala.toSeq) ++
      stateLayers(tr, Chain.liveApps)
    println(f"live pass: dwd freshness p50 ${layers("live_dwd_fresh_p50_s")}%.2f s " +
      f"(n=${st.dwdFresh.size}), dws freshness p50 ${layers("live_dws_fresh_p50_s")}%.2f s " +
      s"(n=${st.dwsFresh.size})")
    (layers, checks)
  }

  // ---------------- warehouse_queries ----------------

  val stride = 15

  /** Returns the workload's outcome and the session it ends in: the dump
    * through `graft.Verify` runs in the active session and stops it. */
  def queries(work: File, root: File, tables: String, seed: Long,
              seconds: Int, traced: Boolean): (Outcome, SparkSession) = {
    val names = Queries.sample(stride)
    // results are dumped first, untimed, and checked against DuckDB by
    // tools/check_correctness.py (run.py); the dump also warms the JVM up
    // for the timed passes, which count rows
    val tDump = System.nanoTime()
    Queries.dump(tables, names, new File(work, "results"))
    println(f"dump ${(System.nanoTime() - tDump) / 1e9}%.2f s")
    java.nio.file.Files.writeString(new File(work, "dumped_queries.json").toPath,
      Json.value(names))
    val spark = Main.benchSession()
    spark.sparkContext.setLogLevel("WARN")
    // file listing and footers of every table, once, as graft.Bench does
    graft.Tables.names.foreach(n => graft.Tables.load(spark, tables, n).count())
    val tr = new Tracer(spark, enabled = traced, "warehouse_queries")
    val start = System.currentTimeMillis()
    // passes over the sample until `seconds` have passed, at least three; each
    // query reports its median time, and fails if any pass fails
    val passes = mutable.ArrayBuffer.empty[Seq[Queries.Timed]]
    while (passes.size < 3 || System.currentTimeMillis() - start < seconds * 1000L)
      passes += Queries.time(spark, tables, names, tr)
    val heapMb = Main.liveHeapMb()
    val runN = if (traced) Queries.time(spark, tables,
      Queries.byPrefix(Queries.named).filterNot(names.contains), tr)
      else Nil
    val end = System.currentTimeMillis()
    tr.close()
    println(f"${passes.size} timed passes: " +
      passes.map(p => f"${p.map(_.seconds).sum}%.2f").mkString(" ") + " s")
    val secs = names.indices.map(i => pct(passes.map(_(i).seconds).toSeq, 50))
    val total = secs.sum
    val errors = names.indices.flatMap(i => passes.flatMap(_(i).error).headOption.map(names(i) -> _))
    errors.foreach { case (n, e) => System.err.println(s"[streambench] $n: $e") }
    java.nio.file.Files.writeString(new File(work, "failed_queries.json").toPath,
      Json.value(errors.map(_._1)))
    val e2e = Map("throughput_per_s" -> names.size / total, "latency_p50_s" -> pct(secs, 50),
      "live_heap_mb" -> heapMb)
    val named = Seq("queries_total_s" -> (total, "s", names.size),
      "queries_p50_s" -> (pct(secs, 50), "s", names.size),
      "queries_p95_s" -> (pct(secs, 95), "s", names.size),
      "error_rate" -> (errors.size.toDouble / names.size, "ratio", names.size))
    val layers = mutable.Map[String, Double]() ++ named.map { case (k, (v, _, _)) => k -> v } +
      ("samples.latency" -> names.size.toDouble)
    val errorOf = errors.toMap
    var checks = names.zip(secs).map { case (n, t) => Chain.Check(n, !errorOf.contains(n),
      f"$t%.3f s median of ${passes.size} ${errorOf.getOrElse(n, "")}") }
    var spans: Option[String] = None
    if (traced) {
      val owner = Queries.owners(root)
      val sampled = names.toSet
      val all = names.zip(secs).map { case (n, t) => Queries.Timed(n, t, None) } ++ runN
      layers ++= Main.operatorObjects.map(o =>
        s"ops.$o.s" -> all.filter(t => owner.get(t.name).contains(o)).map(_.seconds).sum) ++
        all.filter(t => Queries.named.contains(t.name.takeWhile(_ != '_'))).flatMap { t =>
          val q = t.name.takeWhile(_ != '_')
          Seq(s"query.$q.s" -> t.seconds,
            s"query.$q.jobs" -> Option(tr.jobsByGroup.get(t.name)).map(_.doubleValue).getOrElse(0.0) /
              (if (sampled.contains(t.name)) passes.size else 1))
        } ++ sparkLayers(tr, (end - start) / 1000.0)
      layers("trace.overhead_share") = tr.overheadShare((end - start) / 1000.0)
      spans = Some(tr.spanJson(start, end))
      // the live chain has no workload of its own (see README); its traced
      // pass runs here, where the run has time to spare
      val (live, liveChecks) = livePass(spark, work, seed)
      layers ++= live
      checks ++= liveChecks
    }
    (Outcome(e2e, layers.toMap, named, attempted = checks.size,
      failed = checks.count(!_.ok), checks, spans, Map("queries" -> names.size.toDouble)), spark)
  }
}
