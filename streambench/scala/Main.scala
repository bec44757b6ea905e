package streambench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.Files

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.functions.TextFns
import org.apache.spark.sql.SparkSession

/** Benchmark harness: one workload per JVM.
  *
  * {{{
  * streambench.Main --workload <chain_backfill|warehouse_queries>
  *   --seed <n> --seconds <s> --trace <0|1> --work <dir> --root <checkout>
  *   [--tables <dir>]
  * }}}
  *
  * Writes `result.json` (the result line), `layers.json` (every per-layer
  * metric), `trace.json` (spans with self time) and `inputs.json` (generator
  * counts) into `--work`, and prints each metric with its unit on stdout.
  */
object Main {
  val cores = 4

  /** Every app either chain workload runs, and those that keep state. */
  val apps: Seq[String] = (Chain.cdcStep +: (Chain.backfillSteps ++ Chain.liveSteps)).map(_.app).distinct
  val stateful: Seq[String] = apps.filterNot(_ == "base_db")
  val operatorObjects: Seq[String] = Seq("Relational", "TextOps", "Dedup", "Similarity", "Multimodal")

  /** Every per-layer metric and its unit. A traced run reports all of them;
    * a layer the workload does not exercise reports 0. */
  val perLayer: Seq[(String, String)] =
    apps.flatMap(a => Seq(s"app.$a.wall_s" -> "s", s"app.$a.rows_in" -> "count",
      s"app.$a.rows_out" -> "count")) ++
      Seq("dwd.source_reads_per_event" -> "ratio",
        "batch.count" -> "count", "batch.p50_s" -> "s", "batch.latest_offset_ms" -> "ms",
        "batch.get_batch_ms" -> "ms", "batch.query_planning_ms" -> "ms",
        "batch.add_batch_ms" -> "ms", "batch.wal_commit_ms" -> "ms",
        "batch.commit_offsets_ms" -> "ms", "live.backlog_s" -> "s", "live.gen_late_ms" -> "ms") ++
      stateful.flatMap(a => Seq(s"state.$a.rows" -> "count", s"state.$a.bytes" -> "bytes")) ++
      Chain.liveApps.map(a => s"state.$a.commit_ms" -> "ms") ++
      Seq("cdc.batches" -> "count", "cdc.batch_ms" -> "ms", "cdc.dim_store_rows" -> "count",
        "cdc.write_amplification" -> "ratio", "tokenize.phrases_per_s" -> "1/s") ++
      operatorObjects.map(o => s"ops.$o.s" -> "s") ++
      Queries.named.flatMap(q => Seq(s"query.$q.s" -> "s", s"query.$q.jobs" -> "count")) ++
      Seq("spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
        "spark.shuffle_read_bytes" -> "bytes", "spark.shuffle_write_bytes" -> "bytes",
        "spark.spill_bytes" -> "bytes", "spark.task_busy_share" -> "ratio",
        "trace.overhead_share" -> "ratio", "backfill.speedup_1core" -> "ratio",
        "peak_rss_mb" -> "MB",
        "backfill_events_per_s" -> "1/s", "live_dwd_fresh_p50_s" -> "s",
        "live_dwd_fresh_p99_s" -> "s", "live_dws_fresh_p50_s" -> "s",
        "live_dws_fresh_p95_s" -> "s", "queries_total_s" -> "s", "queries_p50_s" -> "s",
        "queries_p95_s" -> "s", "error_rate" -> "ratio",
        "samples.latency" -> "count")

  /** End-to-end metrics. Timings are medians: no workload has the ten
    * samples beyond a higher percentile that would make it meaningful. */
  val endToEnd: Seq[(String, String)] = Seq("setup_s" -> "s", "throughput_per_s" -> "1/s",
    "latency_p50_s" -> "s", "live_heap_mb" -> "MB")

  /** Linear-interpolated percentile (numpy's default); 0 for no samples. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted.toIndexedSeq
      val x = p / 100.0 * (s.size - 1)
      val lo = math.floor(x).toInt
      val hi = math.min(s.size - 1, lo + 1)
      s(lo) + (s(hi) - s(lo)) * (x - lo)
    }

  /** Heap in use after a full collection, in MB: what the run still holds,
    * such as the state stores of the queries that just ran. */
  def liveHeapMb(): Double = {
    // a collection frees what the program dropped; Spark's cleaner then
    // releases the blocks and broadcasts those objects held, which a later
    // collection frees: collect until the heap stops shrinking
    def collect(): Long = {
      System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    }
    var last = Long.MaxValue
    var used = collect()
    var rounds = 0
    while (used < last - (last >> 6) && rounds < 6) {
      last = used
      Thread.sleep(300)
      used = collect()
      rounds += 1
    }
    used / 1048576.0
  }

  def peakRssMb(): Double =
    Files.readAllLines(new File("/proc/self/status").toPath).asScala
      .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toDouble / 1024.0)
      .getOrElse(0.0)

  /** The session every app of the chain runs in: the configuration of
    * `graft.apps.Mains.main`, on `cores` local cores. */
  def chainSession(master: String): SparkSession =
    SparkSession.builder().appName("graft-streambench").master(master)
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()

  /** The session `graft.Bench` runs the queries in. */
  def benchSession(): SparkSession =
    SparkSession.builder().master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.files.maxPartitionBytes", "8m")
      .getOrCreate()

  def deleteTree(f: File): Unit = if (f.exists()) {
    Files.walk(f.toPath).sorted(java.util.Comparator.reverseOrder()).iterator().asScala
      .foreach(p => Files.delete(p))
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toInt
    val traced = opts("trace") == "1"
    val work = new File(opts("work"))
    val root = new File(opts("root"))
    work.mkdirs()

    // set-up: JVM start until the session is ready. A session rebuilt in the
    // same JVM skips class loading and JIT warm-up (~0.1 s against ~3 s), so
    // only this first, cold set-up is what a user of the program waits for.
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark =
      if (workload == "warehouse_queries") benchSession() else chainSession(s"local[$cores]")
    val setupS = (System.currentTimeMillis() - jvmStart) / 1000.0
    spark.sparkContext.setLogLevel("WARN")

    val (out, session) = workload match {
      case "chain_backfill" => (Workloads.backfill(spark, work, seed, seconds, traced), spark)
      case "warehouse_queries" =>
        Workloads.queries(work, root, opts("tables"), seed, seconds, traced)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val e2e = Map("setup_s" -> setupS) ++ out.e2e
    val layers = mutable.LinkedHashMap(perLayer.map(_._1 -> 0.0): _*)
    out.layers.foreach { case (k, v) =>
      require(layers.contains(k), s"undeclared per-layer metric $k"); layers(k) = v }
    if (traced) {
      layers("tokenize.phrases_per_s") = tokenizeRate(seed)
      layers("peak_rss_mb") = peakRssMb()
    }

    if (!session.sparkContext.isStopped) {
      session.streams.active.foreach(_.stop())
      session.stop()
    }
    def metricsJson(names: Seq[(String, String)], vals: collection.Map[String, Double]) =
      names.map { case (n, u) => n -> Map("value" -> vals(n), "unit" -> u) }.toMap
    val chosen = if (traced) metricsJson(perLayer, layers) else metricsJson(endToEnd, e2e)
    Files.writeString(new File(work, "result.json").toPath, Json.value(Map(
      "correct" -> (out.failed == 0), "attempted" -> out.attempted, "failed" -> out.failed,
      "metrics" -> chosen)))
    Files.writeString(new File(work, "layers.json").toPath, Json.value(metricsJson(perLayer, layers)))
    Files.writeString(new File(work, "trace.json").toPath, out.spans.getOrElse("[]"))
    Files.writeString(new File(work, "inputs.json").toPath, Json.value(out.inputs))
    out.checks.foreach(c => println(s"check ${if (c.ok) "ok  " else "FAIL"} ${c.name}: ${c.detail}"))
    (if (traced) perLayer.map { case (n, u) => (n, layers(n), u) }
     else endToEnd.map { case (n, u) => (n, e2e(n), u) }).foreach { case (n, v, u) =>
      println(f"metric $n%-34s $v%14.4f $u")
    }
    out.named.foreach { case (n, (v, u, samples)) =>
      println(f"workload-metric $n%-25s $v%14.4f $u%-6s n=$samples") }
  }

  /** `TextFns.tokenize` on seeded search phrases: phrases per second over
    * ~0.5 s of direct calls. */
  def tokenizeRate(seed: Long): Double = {
    val r = new java.util.SplittableRandom(seed)
    val z = new Gen.Zipf(Gen.searchPhrases.size, 1.0)
    val phrases = Array.fill(20000)(Gen.searchPhrases(z.draw(r)))
    var n = 0L
    var sink = 0
    phrases.foreach(p => sink += TextFns.tokenize(p).size) // warm-up
    val t = System.nanoTime()
    while (System.nanoTime() - t < 500000000L) {
      phrases.foreach(p => sink += TextFns.tokenize(p).size)
      n += phrases.length
    }
    require(sink > 0)
    n / ((System.nanoTime() - t) / 1e9)
  }
}
