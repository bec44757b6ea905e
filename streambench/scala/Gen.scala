package streambench

import java.io.{File, PrintWriter}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, StandardCopyOption}

import scala.collection.mutable

/** Seeded generator of the gmall topics the benchmark feeds the chain.
  *
  * Properties every topic is built to have:
  *  - Zipf skew on devices, users and SKUs;
  *  - ~10% start events, a search-page (`good_list` + keyword) share and
  *    display arrays on a share of page events;
  *  - `ts` out of order across devices by up to [[Gen.maxJitterMs]], which is
  *    inside the smallest watermark of the chain (2 s). Each device's own
  *    events arrive in `ts` order, at least [[Gen.minGapMs]] apart, so the
  *    keyed-state apps see the same per-key sequence whatever the
  *    micro-batch boundaries are. No event arrives later than a watermark
  *    allows: which late events get dropped depends on batch boundaries.
  *  - ~0.5% malformed lines, which the chain routes to `dwd_dirty_log`;
  *  - CDC rows mixing fact inserts, dim bootstrap inserts and hot-key dim
  *    updates.
  */
object Gen {
  val maxJitterMs = 1500L
  val minGapMs = 2000L

  final case class Config(events: Int, devices: Int, users: Int, skus: Int, orders: Int,
                          startMs: Long, spanMs: Long)

  /** One ODS log line. `arrival` orders the stream; `ts` is event time;
    * `kind` is 'p' (page), 's' (start) or 'x' (malformed). */
  final case class LogLine(arrival: Long, ts: Long, mid: String, line: String,
                           kind: Char, page: String, item: String, entry: Boolean)

  val provinces: IndexedSeq[(Long, String, String, String)] = (1 to 34).map { i =>
    (i.toLong, s"province_$i", f"${10 + i}%02d0000", f"CN-$i%02d")
  }
  private val pages = IndexedSeq("home", "good_list", "good_detail", "cart", "trade",
    "payment", "mine", "login")
  private val channels = IndexedSeq("oppo", "vivo", "xiaomi", "huawei", "web", "appstore")
  private val versions = IndexedSeq("v2.1.134", "v2.1.132", "v2.0.1", "v1.9.8")
  private val models = IndexedSeq("Xiaomi 9", "Honor 20s", "iPhone Xs", "Sumsung Galaxy S20")
  val searchPhrases: IndexedSeq[String] = IndexedSeq("小米手机", "apple iphone 12", "华为 mate40 pro", "口红",
    "连衣裙", "running shoes", "笔记本电脑 轻薄", "wireless earbuds", "扫地机器人", "4k tv 55",
    "咖啡机", "mechanical keyboard", "运动鞋 男", "香水", "gaming mouse", "电动牙刷",
    "backpack travel", "空气炸锅", "智能手表", "usb c cable", "羽绒服 女", "protein powder",
    "蓝牙耳机 降噪", "desk lamp", "儿童玩具", "coffee beans", "洗面奶", "yoga mat",
    "平板电脑", "water bottle")
  /** Zipf(s) sampler over ranks 0 until n (rank 0 hottest). */
  final class Zipf(n: Int, s: Double) {
    private val cdf: Array[Double] = {
      val w = Array.tabulate(n)(k => 1.0 / math.pow(k + 1, s))
      val tot = w.sum
      var acc = 0.0
      w.map { x => acc += x / tot; acc }
    }
    def draw(r: java.util.SplittableRandom): Int = {
      val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  private def q(s: String): String = if (s == null) "null" else "\"" + s + "\""
  private def money(cents: Long): String = f"${cents / 100}%d.${cents % 100}%02d"

  /** The ODS log stream, sorted by arrival. Per-device events are
    * `minGapMs` apart and jitter is below `maxJitterMs`, so arrival order
    * keeps each device's `ts` order. */
  def logStream(seed: Long, c: Config): Array[LogLine] = {
    val r = new java.util.SplittableRandom(seed)
    val devZipf = new Zipf(c.devices, 0.9)
    val skuZipf = new Zipf(c.skus, 1.1)
    val phraseZipf = new Zipf(searchPhrases.size, 1.0)
    val lastTs = Array.fill(c.devices)(Long.MinValue)
    val lastPage = Array.fill[String](c.devices)(null)
    val out = new Array[LogLine](c.events)
    val step = c.spanMs.toDouble / c.events
    var i = 0
    while (i < c.events) {
      val ts = c.startMs + (i * step).toLong + r.nextLong(math.max(1L, step.toLong))
      var d = devZipf.draw(r)
      var tries = 0
      while (lastTs(d) + minGapMs > ts && tries < 8) { d = devZipf.draw(r); tries += 1 }
      while (lastTs(d) + minGapMs > ts) d = r.nextInt(c.devices)
      lastTs(d) = ts
      val mid = s"mid_$d"
      val arrival = ts + r.nextLong(maxJitterMs)
      val common = {
        val uid = if (r.nextInt(3) == 0) null else s"${1 + r.nextInt(c.users)}"
        s"""{"ar":"${provinces(d % provinces.size)._3}","uid":${q(uid)},"os":"Android 11.0",""" +
          s""""ch":"${channels(d % channels.size)}","is_new":"${if (d % 5 == 0) "1" else "0"}",""" +
          s""""md":"${models(d % models.size)}","mid":"$mid","vc":"${versions(d % versions.size)}",""" +
          s""""ba":"${models(d % models.size).takeWhile(_ != ' ')}"}"""
      }
      val roll = r.nextInt(1000)
      var pageId: String = null
      var pageItem: String = null
      var isEntry = false
      val line =
        if (roll < 5) {
          // malformed: truncated JSON, parses to a row with null common/ts
          s"""{"common":{"mid":"$mid","ar":"""
        } else if (roll < 105) {
          lastPage(d) = null
          s"""{"common":$common,"start":{"entry":"icon","open_ad_skip_ms":0,"open_ad_ms":""" +
            s"""${1000 + r.nextInt(5000)},"loading_time":${500 + r.nextInt(10000)},""" +
            s""""open_ad_id":${1 + r.nextInt(20)}},"ts":$ts}"""
        } else {
          val entry = lastPage(d) == null || r.nextInt(100) < 15
          val pid =
            if (r.nextInt(100) < 15) "good_list"
            else pages(r.nextInt(pages.size))
          val (item, itemType) = pid match {
            case "good_list" => (searchPhrases(phraseZipf.draw(r)), "keyword")
            case "good_detail" => ((1 + skuZipf.draw(r)).toString, "sku_id")
            case _ => (null, null)
          }
          val last = if (entry) null else lastPage(d)
          lastPage(d) = pid
          pageId = pid; pageItem = item; isEntry = entry
          val page = s"""{"page_id":"$pid","last_page_id":${q(last)},"during_time":""" +
            s"""${1000 + r.nextInt(20000)},"item":${q(item)},"item_type":${q(itemType)},""" +
            s""""source_type":"promotion"}"""
          val displays =
            if ((pid == "home" || pid == "good_list") && r.nextInt(100) < 60) {
              val n = 1 + r.nextInt(5)
              (1 to n).map { k =>
                s"""{"display_type":"recommend","item":"${1 + skuZipf.draw(r)}",""" +
                  s""""item_type":"sku_id","pos_id":${1 + r.nextInt(5)},"order":$k}"""
              }.mkString(""","displays":[""", ",", "]")
            } else ""
          s"""{"common":$common,"page":$page$displays,"ts":$ts}"""
        }
      val kind = if (roll < 5) 'x' else if (roll < 105) 's' else 'p'
      out(i) = LogLine(arrival, ts, mid, line, kind, pageId, pageItem, isEntry)
      i += 1
    }
    java.util.Arrays.sort(out, Ordering.by[LogLine, Long](_.arrival))
    out
  }

  /** Write `lines` as one file, atomically: the streaming source never sees
    * a partial file. */
  def writeFile(dir: File, name: String, lines: Iterator[String]): Long = {
    dir.mkdirs()
    val tmp = new File(dir.getParentFile, s".$name.${dir.getName}.tmp")
    val w = new PrintWriter(Files.newBufferedWriter(tmp.toPath, StandardCharsets.UTF_8))
    var n = 0L
    try lines.foreach { l => w.write(l); w.write('\n'); n += 1 } finally w.close()
    Files.move(tmp.toPath, new File(dir, name).toPath, StandardCopyOption.ATOMIC_MOVE)
    n
  }

  /** Write every topic of the backfill slice under `root/in`: the ODS log,
    * the CDC stream with its `table_process` config, the order topics and the
    * dims. Returns line counts per topic plus the shares the generator was
    * built to have. */
  def writeBackfill(root: File, seed: Long, c: Config, logFiles: Int,
                    cdcFiles: Int): Map[String, Double] = {
    val counts = mutable.LinkedHashMap.empty[String, Double]
    def put(topic: String, n: Long): Unit = counts(topic) = counts.getOrElse(topic, 0.0) + n
    val log = logStream(seed, c)
    val in = new File(root, "in")
    val per = (log.length + logFiles - 1) / logFiles
    log.grouped(per).zipWithIndex.foreach { case (chunk, k) =>
      put("ods_base_log", writeFile(new File(in, "ods_base_log"), f"part-$k%04d.json",
        chunk.iterator.map(_.line)))
    }
    val pageEvents = log.filter(_.kind == 'p')
    counts("share.start") = log.count(_.kind == 's').toDouble / log.length
    counts("share.malformed") = log.count(_.kind == 'x').toDouble / log.length
    counts("share.search_page") = pageEvents.count(_.page == "good_list").toDouble / pageEvents.length
    counts("share.display_page") =
      pageEvents.count(_.line.contains("\"displays\"")).toDouble / pageEvents.length

    val r = new java.util.SplittableRandom(seed * 31 + 7)
    val userZipf = new Zipf(c.users, 1.0)
    val skuZipf = new Zipf(c.skus, 1.1)
    // dims: written as topics for order_wide and sent through the CDC stream
    val users = (1 to c.users).map { u =>
      s"""{"id":$u,"gender":"${if (u % 2 == 0) "F" else "M"}","birthday":"${1970 + u % 35}-0${1 + u % 9}-1${u % 9}"}"""
    }
    val provs = provinces.map { case (id, n, a, iso) =>
      s"""{"id":$id,"name":"$n","area_code":"$a","iso_code":"$iso"}""" }
    def sku(s: Int, version: String): String =
      s"""{"id":$s,"sku_name":"sku_$s$version","spu_id":${1 + s % 20},"tm_id":${1 + s % 12},"category3_id":${1 + s % 25}}"""
    val skus = (1 to c.skus).map(sku(_, ""))
    val dims = Seq("user_info" -> users, "base_province" -> provs, "sku_info" -> skus)
    dims.foreach { case (t, rows) => put(s"dim_$t", writeFile(new File(in, s"dim_$t"), "dim.json", rows.iterator)) }

    // orders, lines and payments: one order per `step` ms, lines share the
    // order's create_ts (the interval join's ±5 ms band), payments follow
    final case class Fact(arrival: Long, topic: String, row: String, table: String, cdc: String)
    val facts = mutable.ArrayBuffer.empty[Fact]
    val step = c.spanMs.toDouble / c.orders
    var detailId = 0L
    var paymentId = 0L
    val end = c.startMs + c.spanMs
    (1 to c.orders).foreach { o =>
      val ts = c.startMs + ((o - 1) * step).toLong + r.nextLong(math.max(1L, step.toLong))
      val arrival = ts + r.nextLong(maxJitterMs)
      val user = 1 + userZipf.draw(r)
      val prov = 1 + r.nextInt(provinces.size)
      val nLines = 1 + r.nextInt(4)
      var total = 0L
      (1 to nLines).foreach { _ =>
        detailId += 1
        val sku = 1 + skuZipf.draw(r)
        val price = 100L * (10 + r.nextInt(990)) + r.nextInt(100)
        val num = 1 + r.nextInt(3)
        val split = price * num
        total += split
        val row = s"""{"id":$detailId,"order_id":$o,"sku_id":$sku,"order_price":${money(price)},""" +
          s""""sku_num":$num,"split_total_amount":${money(split)},"create_ts":$ts}"""
        facts += Fact(arrival, "dwd_order_detail", row, "order_detail", row)
      }
      val info = s"""{"id":$o,"user_id":$user,"province_id":$prov,"total_amount":${money(total)},"create_ts":$ts}"""
      facts += Fact(arrival, "dwd_order_info", info, "order_info", info)
      if (r.nextInt(100) < 70) {
        paymentId += 1
        val cb = math.min(end - 1, ts + 5000 + r.nextLong(55000))
        val pay = s"""{"id":$paymentId,"order_id":$o,"payment_type":"110${1 + r.nextInt(3)}",""" +
          s""""total_amount":${money(total)},"callback_ts":$cb}"""
        facts += Fact(cb + r.nextLong(maxJitterMs), "dwd_payment_info", pay, "payment_info", pay)
      }
    }
    val sorted = facts.sortBy(_.arrival)
    Seq("dwd_order_info", "dwd_order_detail").foreach { t =>
      put(t, writeFile(new File(in, t), "part-0000.json", sorted.iterator.filter(_.topic == t).map(_.row)))
    }

    // CDC: dim bootstrap inserts first, then facts interleaved with hot-key
    // dim updates, drained one file per micro-batch
    def env(table: String, tpe: String, ts: Long, data: String): String =
      s"""{"database":"gmall2021","table":"$table","type":"$tpe","ts":$ts,"data":${jsonString(data)}}"""
    val bootstrap = dims.flatMap { case (t, rows) =>
      rows.map(row => env(t, "bootstrap-insert", c.startMs - 1, row)) }
    val updates = mutable.ArrayBuffer.empty[(Long, String)]
    val nUpdates = c.orders / 4
    (1 to nUpdates).foreach { k =>
      val ts = c.startMs + (k * c.spanMs / nUpdates)
      if (k % 3 == 0) {
        updates += ((ts, env("sku_info", "update", ts, sku(1 + skuZipf.draw(r), s"_v$k"))))
      } else {
        val u = 1 + userZipf.draw(r)
        updates += ((ts, env("user_info", "update", ts,
          s"""{"id":$u,"gender":"${if (k % 2 == 0) "F" else "M"}","birthday":"19${70 + k % 30}-01-0${1 + k % 9}"}""")))
      }
    }
    val cdcStream = (sorted.map(f => (f.arrival, env(f.table, "insert", f.arrival, f.cdc))) ++
      updates).sortBy(_._1).map(_._2)
    val cdcDir = new File(in, "ods_base_db_m")
    put("ods_base_db_m", writeFile(cdcDir, "part-0000.json", bootstrap.iterator))
    val perCdc = (cdcStream.size + cdcFiles - 2) / math.max(1, cdcFiles - 1)
    cdcStream.grouped(perCdc).zipWithIndex.foreach { case (chunk, k) =>
      put("ods_base_db_m", writeFile(cdcDir, f"part-${k + 1}%04d.json", chunk.iterator))
    }
    // the file source takes files in modification-time order: one second
    // apart, as if each file arrived after the one before it (files written
    // within the same millisecond would have no defined order)
    val files = cdcDir.listFiles().filter(_.getName.endsWith(".json")).sortBy(_.getName)
    val firstMs = System.currentTimeMillis() - 1000L * (files.length + 1)
    files.zipWithIndex.foreach { case (f, k) => f.setLastModified(firstMs + 1000L * k) }
    counts("cdc.dim_rows") = bootstrap.size + updates.size
    counts("cdc.dim_bytes") =
      (bootstrap.iterator ++ updates.iterator.map(_._2)).map(_.getBytes(StandardCharsets.UTF_8).length + 1L).sum
    counts("cdc.fact_rows") = sorted.size
    val cfg = Seq(
      ("order_info", "insert", "kafka", "dwd_order_info", "id,user_id,province_id,total_amount,create_ts", "id"),
      ("order_detail", "insert", "kafka", "dwd_order_detail", "id,order_id,sku_id,order_price,sku_num,split_total_amount,create_ts", "id"),
      ("payment_info", "insert", "kafka", "dwd_payment_info", "id,order_id,payment_type,total_amount,callback_ts", "id")) ++
      dims.flatMap { case (t, _) =>
        Seq("insert", "update").map(op => (t, op, "hbase", s"dim_$t", "", "id")) }
    writeFile(new File(in, "table_process"), "config.json", cfg.iterator.map {
      case (st, op, sink, table, cols, pk) =>
        s"""{"source_table":"$st","operate_type":"$op","sink_type":"$sink","sink_table":"$table",""" +
          s""""sink_columns":"$cols","sink_pk":"$pk"}"""
    })

    counts("events.ods") = log.length
    counts("events.page") = pageEvents.length
    counts("devices") = c.devices
    counts.toMap
  }

  def jsonString(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
}
