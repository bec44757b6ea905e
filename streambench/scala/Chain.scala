package streambench

import java.io.File

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import graft.apps.{Apps, Mains}
import graft.io.Io
import graft.streaming.CdcRouter
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

/** The streaming chain: the backfill drains a generated slice under
  * AvailableNow, the live pass offers a fixed event rate to the seven
  * DWD/DWM/DWS queries under a 1 s processing-time trigger. Both run the apps
  * through `graft.apps.Mains.start` and check every output against the same
  * `graft.apps.Apps` transform run in batch. */
object Chain {

  /** One app of the chain: input dir, output dir, source options. */
  final case class Step(app: String, in: String, out: String,
                        opts: Map[String, String] = Map.empty)

  /** The apps `chain_backfill` drains, in topological order. */
  val backfillSteps: Seq[Step] = Seq(
    Step("base_log", "in", "dwd"),
    Step("order_wide", "in", "dwm"),
    Step("province_stats", "dwm", "prov"))

  /** The apps the untraced `chain_backfill` run times: DWD, the per-row
    * heaviest layer. The traced run drains the rest of the chain after them. */
  val timedSteps: Seq[Step] = backfillSteps.take(1)

  /** The CDC router, drained one file per batch so the dim store is
    * rewritten batch after batch; the traced run drains it after the chain. */
  val cdcStep: Step = Step("base_db", "in", "out_db", Map("maxFilesPerTrigger" -> "1"))

  /** The apps the live pass runs side by side; `base_log` starts first. */
  val liveSteps: Seq[Step] = Seq(
    Step("base_log", "in", "dwd"),
    Step("unique_visit", "dwd", "uv"),
    Step("user_jump_detail", "dwd", "uj"),
    Step("keyword_stats", "dwd", "kw"))

  val liveApps: Seq[String] = liveSteps.map(_.app)

  /** Input and output topics per app, relative to the step's dirs. */
  def topics(s: Step): (Seq[String], Seq[String]) =
    s.app match {
      case "base_db" => (Seq("ods_base_db_m"), Seq("kafka_facts"))
      case "base_log" => (Seq("ods_base_log"),
        Seq("dwd_start_log", "dwd_page_log", "dwd_display_log", "dwd_dirty_log"))
      case "unique_visit" => (Seq("dwd_page_log"), Seq("dwm_unique_visit"))
      case "user_jump_detail" => (Seq("dwd_page_log"), Seq("dwm_user_jump_detail"))
      case "keyword_stats" => (Seq("dwd_page_log"), Seq("dws_keyword_stats"))
      case "order_wide" => (Seq("dwd_order_info", "dwd_order_detail"), Seq("dwm_order_wide"))
      case "province_stats" => (Seq("dwm_order_wide"), Seq("dws_province_stats"))
    }

  final case class AppRun(app: String, wall: Double, queries: Seq[StreamingQuery],
                          error: Option[String])

  /** Drain the slice under `w` through `steps`, one app after another. */
  def drain(spark: SparkSession, w: File, tracer: Tracer,
            steps: Seq[Step] = backfillSteps): Seq[AppRun] =
    steps.map { s =>
      val ((qs, err), wall) = tracer.span("app", s.app) {
        try {
          val qs = Mains.start(spark, s.app, new File(w, s.in).getPath,
            new File(w, s.out).getPath, new File(w, s"ck/${s.app}").getPath,
            Trigger.AvailableNow(), s.opts)
          qs.foreach(q => tracer.queryApp.put(q.id.toString, s.app))
          qs.foreach(_.awaitTermination())
          (qs, None)
        } catch { case NonFatal(e) => (Seq.empty[StreamingQuery], Some(e.toString)) }
      }
      AppRun(s.app, wall, qs, err)
    }

  // ---------------- output checks ----------------

  /** Outcome of comparing one output with its batch twin. */
  final case class Check(name: String, ok: Boolean, detail: String)

  /** A static read of a topic dir: a sink's committed files, or the
    * generated files. */
  private def read(spark: SparkSession, dir: File, topic: String, schema: StructType): DataFrame =
    spark.read.schema(schema).json(new File(dir, topic).getPath)

  /** Row count and two order-independent sums of row hashes: equal digests
    * mean equal multisets of rows (up to a hash collision). */
  private def digest(df: DataFrame): (Long, Long, Long) = {
    val cols = df.columns.sorted.toIndexedSeq.map(col)
    val r = df.agg(count(lit(1)), sum(pmod(xxhash64(cols: _*), lit(1000000007L))),
      sum(pmod(hash(cols: _*).cast("long"), lit(998244353L)))).head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1), if (r.isNullAt(2)) 0L else r.getLong(2))
  }

  /** Multiset equality of two frames, column order taken from `expected`.
    * Only a mismatch pays for the row-level difference. */
  def same(name: String, expected: DataFrame, actual: DataFrame): Check = {
    val a = actual.select(expected.columns.map(col).toIndexedSeq: _*)
    val (de, da) = (digest(expected), digest(a))
    if (de == da) Check(name, ok = true, s"rows=${de._1}")
    else Check(name, ok = false, s"expected=${de._1} actual=${da._1} " +
      s"missing=${expected.exceptAll(a).count()} extra=${a.exceptAll(expected).count()}")
  }

  /** The watermark of the last batch an app ran, as `yyyy-MM-dd HH:mm:ss`. */
  def watermark(run: AppRun): Option[(Long, String)] =
    run.queries.flatMap(q => Option(q.lastProgress))
      .flatMap(p => Option(p.eventTime.get("watermark"))).headOption.map { iso =>
        val ms = java.time.Instant.parse(iso).toEpochMilli
        (ms, fmt(ms))
      }

  def fmt(ms: Long): String =
    java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
      .withZone(java.time.ZoneOffset.UTC).format(java.time.Instant.ofEpochMilli(ms))

  /** Windows the final watermark closed: a pane is emitted once
    * watermark >= window end. */
  private def closed(df: DataFrame, wm: Option[(Long, String)]): DataFrame =
    df.filter(col("edt") <= lit(wm.map(_._2).getOrElse("0000")))

  /** Check every DWD/DWM/DWS output of `runs` against its batch twin. */
  def check(spark: SparkSession, w: File, runs: Seq[AppRun]): Seq[Check] = {
    val byApp = runs.map(r => r.app -> r).toMap
    def dir(s: String) = new File(w, s)
    val out = mutable.ArrayBuffer.empty[Check]
    def guard(name: String)(body: => Seq[Check]): Unit =
      if (byApp.get(name.takeWhile(_ != '/')).exists(_.error.nonEmpty))
        out += Check(name, ok = false, byApp(name.takeWhile(_ != '/')).error.get)
      else try out ++= body catch {
        case NonFatal(e) => out += Check(name, ok = false, s"check failed: $e")
      }

    if (byApp.contains("base_log")) guard("base_log") {
      val twin = Apps.baseLog(Map("ods_base_log" -> spark.read.text(dir("in/ods_base_log").getPath)))
      twin.toSeq.sortBy(_._1).map { case (t, exp) =>
        same(s"base_log/$t", exp, read(spark, dir("dwd"), t, exp.schema)) }
    }
    lazy val page = read(spark, dir("dwd"), "dwd_page_log", Mains.Wire.logEvent)
    if (byApp.contains("unique_visit")) guard("unique_visit") {
      val exp = Apps.uniqueVisit(Map("dwd_page_log" -> page))("dwm_unique_visit")
      Seq(same("unique_visit", exp, read(spark, dir("uv"), "dwm_unique_visit", exp.schema)))
    }
    byApp.get("user_jump_detail").foreach(run => guard("user_jump_detail") {
      // In batch an event-time timeout never fires, so a session entry still
      // pending at the end is not emitted. A sentinel page event per device,
      // far in the future, emits it the way the stream's timeout does. The
      // stream times out entries with ts + 10 s < watermark; entries within
      // 1.5 s of that line are left out of the comparison.
      val gap = 10000L
      val wm = watermark(run).map(_._1).getOrElse(Long.MinValue)
      val sentinels = page.groupBy("mid").agg(first("uid").as("uid"), first("ar").as("ar"),
          first("ch").as("ch"), first("vc").as("vc"), first("is_new").as("is_new"))
        .select(col("mid"), col("uid"), col("ar"), col("ch"), col("vc"), col("is_new"),
          lit("home").as("page_id"), lit("home").as("last_page_id"),
          lit(1L).as("during_time"), lit(Long.MaxValue / 2).as("ts"),
          lit(null).cast("string").as("item"))
      val plain = Apps.userJumpDetail(Map("dwd_page_log" -> page))("dwm_user_jump_detail")
      val flushed = Apps.userJumpDetail(Map("dwd_page_log" ->
        page.unionByName(sentinels)))("dwm_user_jump_detail")
      val due = col("ts") + lit(gap)
      val exp = flushed.filter(due < lit(wm - 1500))
        .unionByName(plain.filter(due > lit(wm + 1500)))
      val act = read(spark, dir("uj"), "dwm_user_jump_detail", plain.schema)
        .filter(due < lit(wm - 1500) || due > lit(wm + 1500))
      Seq(same("user_jump_detail", exp, act))
    })
    byApp.get("keyword_stats").foreach(run => guard("keyword_stats") {
      val exp = Apps.keywordStats(Map("dwd_page_log" -> page))("dws_keyword_stats")
      Seq(same("keyword_stats", closed(exp, watermark(run)),
        read(spark, dir("kw"), "dws_keyword_stats", exp.schema)))
    })
    if (byApp.contains("order_wide")) guard("order_wide") {
      val dimsIn = Seq("dim_user_info" -> Mains.Wire.userDim,
        "dim_base_province" -> Mains.Wire.provinceDim, "dim_sku_info" -> Mains.Wire.skuDim)
        .map { case (t, s) => t -> read(spark, dir("in"), t, s) }.toMap
      val exp = Apps.orderWide(Map(
        "dwd_order_info" -> read(spark, dir("in"), "dwd_order_info", Mains.Wire.orderInfo),
        "dwd_order_detail" -> read(spark, dir("in"), "dwd_order_detail", Mains.Wire.orderDetail))
        ++ dimsIn)("dwm_order_wide")
      Seq(same("order_wide", exp, read(spark, dir("dwm"), "dwm_order_wide", exp.schema)))
    }
    lazy val orderWide = read(spark, dir("dwm"), "dwm_order_wide", Mains.Wire.orderWide(spark))
    byApp.get("province_stats").foreach(run => guard("province_stats") {
      // the stream counts orders with approx_count_distinct (rsd 0.05); the
      // batch twin counts exactly. Every other column must match exactly,
      // and each approximate count must lie within 3 × rsd of the exact one.
      val exp = closed(Apps.provinceStats(Map("dwm_order_wide" -> orderWide))("dws_province_stats"),
        watermark(run))
      val act = read(spark, dir("prov"), "dws_province_stats", exp.schema)
      val rest = same("province_stats", exp.drop("order_count"), act.drop("order_count"))
      val key = Seq("stt", "province_id")
      val far = exp.select((key :+ "order_count").map(col): _*).as("e")
        .join(act.select((key :+ "order_count").map(col): _*).as("a"), key)
        .filter(abs(col("e.order_count") - col("a.order_count")) >
          ceil(col("e.order_count") * lit(0.15)))
        .count()
      Seq(rest.copy(ok = rest.ok && far == 0,
        detail = s"${rest.detail} order_count_outside_bound=$far"))
    })
    if (byApp.contains("base_db")) guard("base_db") {
      val twin = Apps.baseDb(Map(
        "ods_base_db_m" -> read(spark, dir("in"), "ods_base_db_m", CdcRouter.envelopeSchema),
        "table_process" -> read(spark, dir("in"), "table_process", CdcRouter.configSchema)))
      val facts = same("base_db/kafka_facts", twin("kafka_facts").select("topic", "value"),
        spark.read.json(dir("out_db/kafka_facts").getPath).select("topic", "value"))
      // the dim store keeps the last writer per key, ordered by envelope ts
      val dimRows = twin("hbase_dims")
      val tables = dimRows.select("sink_table").distinct().collect().map(_.getString(0)).sorted
      facts +: tables.toSeq.map { t =>
        val exp = dimRows.filter(col("sink_table") === t)
          .select(col("kv_pruned")("id").as("id"), col("value"), col("ts"))
          .groupBy("id").agg(max_by(struct(col("value"), col("ts")), col("ts")).as("r"))
          .select(col("id"), col("r.value").as("value"), col("r.ts").as("ts"))
        same(s"base_db/$t", exp,
          Io.readDim(spark, dir(s"out_db/hbase_dims/$t").getPath).select("id", "value", "ts"))
      }
    }
    out.toSeq
  }

  // ---------------- live ----------------

  /** A file of the offered load: when it was due, when it was written, the
    * newest event time in it. */
  final case class Offered(dueMs: Long, writtenMs: Long, maxTs: Long)

  final case class LiveRun(queries: Seq[AppRun], offered: Seq[Offered],
                           lines: Array[Gen.LogLine], measureFrom: Long, measureTo: Long)

  /** Offer `rate` events/s for `warmupS + seconds` s, one file per second,
    * to the seven live queries; then let every query catch up and stop. */
  def live(spark: SparkSession, w: File, seed: Long, rate: Int, warmupS: Int,
           seconds: Int, tracer: Tracer): LiveRun = {
    val src = new File(w, "in/ods_base_log"); src.mkdirs()
    val trigger = Trigger.ProcessingTime("1 second")
    def startApp(s: Step): AppRun = {
      val qs = Mains.start(spark, s.app, new File(w, s.in).getPath, new File(w, s.out).getPath,
        new File(w, s"ck/${s.app}").getPath, trigger)
      qs.foreach(q => tracer.queryApp.put(q.id.toString, s.app))
      AppRun(s.app, 0.0, qs, None)
    }
    val t00 = System.currentTimeMillis()
    val baseLog = startApp(liveSteps.head)
    // downstream file sources must see the sink's metadata log from the start
    val meta = new File(w, "dwd/dwd_page_log/_spark_metadata")
    while (!meta.isDirectory && System.currentTimeMillis() - t00 < 30000) Thread.sleep(20)
    val down = liveSteps.tail.map(startApp)

    val span = (warmupS + seconds) * 1000L
    val t0 = System.currentTimeMillis() + 1500
    val cfg = Gen.Config(events = rate * (warmupS + seconds), devices = 10000, users = 5000,
      skus = 300, orders = 0, startMs = t0, spanMs = span)
    val lines = Gen.logStream(seed, cfg)
    val offered = mutable.ArrayBuffer.empty[Offered]
    val gen = new Thread(() => {
      var k = 1
      var i = 0
      while (k * 1000L <= span + 1000L + Gen.maxJitterMs) {
        val due = t0 + k * 1000L
        val wait = due - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        val from = i
        while (i < lines.length && lines(i).arrival < due) i += 1
        if (i > from) {
          Gen.writeFile(src, f"part-$k%05d.json", lines.iterator.slice(from, i).map(_.line))
          offered += Offered(due, System.currentTimeMillis(),
            lines.iterator.slice(from, i).map(_.ts).max)
        }
        k += 1
      }
    }, "offered-load")
    gen.setDaemon(true)
    gen.start()
    gen.join()
    val all = baseLog +: down
    try {
      baseLog.queries.foreach(_.processAllAvailable())
      down.foreach(_.queries.foreach(_.processAllAvailable()))
    } finally all.foreach(_.queries.foreach(_.stop()))
    LiveRun(all, offered.toSeq, lines, t0 + warmupS * 1000L, t0 + span)
  }

  private val midRe = "\"mid\":\"([^\"]+)\"".r
  private val tsRe = "\"ts\":(\\d+)".r
  private val edtRe = "\"edt\":\"([^\"]+)\"".r

  /** Freshness and delivery measured from the sink directories. */
  final case class LiveStats(dwdFresh: Seq[Double], dwsFresh: Seq[Double], offeredPages: Long,
                             notExactlyOnce: Long, backlog: Seq[Double], genLateMs: Seq[Double])

  def liveStats(w: File, run: LiveRun): LiveStats = {
    val inWindow = (ts: Long) => ts >= run.measureFrom && ts < run.measureTo
    val counts = mutable.HashMap.empty[(String, Long), Int]
    val dwdFresh = mutable.ArrayBuffer.empty[Double]
    val batches = Sinks.batches(new File(w, "dwd/dwd_page_log"))
    val backlog = mutable.ArrayBuffer.empty[Double]
    var committedMax = Long.MinValue
    batches.foreach { b =>
      b.files.foreach(f => Sinks.readLines(f).foreach { l =>
        val mid = midRe.findFirstMatchIn(l).map(_.group(1)).getOrElse("")
        val ts = tsRe.findFirstMatchIn(l).map(_.group(1).toLong).getOrElse(-1L)
        counts((mid, ts)) = counts.getOrElse((mid, ts), 0) + 1
        committedMax = math.max(committedMax, ts)
        if (inWindow(ts)) dwdFresh += (b.commitMs - ts) / 1000.0
      })
      if (b.commitMs >= run.measureFrom && b.commitMs < run.measureTo) {
        val genMax = run.offered.filter(_.writtenMs <= b.commitMs).map(_.maxTs)
        if (genMax.nonEmpty) backlog += math.max(0L, genMax.max - committedMax) / 1000.0
      }
    }
    val pages = run.lines.filter(_.kind == 'p')
    val expected = pages.map(l => (l.mid, l.ts)).toSet
    val wrong = expected.count(k => counts.getOrElse(k, 0) != 1) +
      counts.keySet.count(k => !expected.contains(k))
    val dwsFresh = Sinks.batches(new File(w, "kw/dws_keyword_stats")).flatMap { b =>
      b.files.flatMap(f => Sinks.readLines(f).flatMap(l => edtRe.findFirstMatchIn(l).map(_.group(1))))
        .map(e => java.time.LocalDateTime.parse(e.replace(' ', 'T'))
          .toInstant(java.time.ZoneOffset.UTC).toEpochMilli)
        .filter(inWindow)
        .map(edt => (b.commitMs - edt) / 1000.0)
    }
    LiveStats(dwdFresh.toSeq, dwsFresh, pages.length.toLong, wrong.toLong, backlog.toSeq,
      run.offered.map(o => (o.writtenMs - o.dueMs).toDouble))
  }
}
