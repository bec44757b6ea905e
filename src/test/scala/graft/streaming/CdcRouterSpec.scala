package graft.streaming

import graft.SparkSuite
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

class CdcRouterSpec extends SparkSuite {

  private def cfg() = {
    import spark.implicits._
    Seq(
      ("order_info", "insert", "kafka", "dwd_order_info", "id,user_id,total_amount", null.asInstanceOf[String]),
      ("user_info", "insert", "hbase", "dim_user_info", "id,name", "id"),
      ("user_info", "update", "hbase", "dim_user_info", "id,name", "id"))
      .toDF("source_table", "operate_type", "sink_type", "sink_table", "sink_columns", "sink_pk")
  }

  test("route: normalizes bootstrap-insert, prunes to sink_columns, tags topic") {
    import spark.implicits._
    val records = Seq(
      ("gmall", "order_info", "bootstrap-insert", 1L,
        """{"id":"1","user_id":"7","total_amount":"99.5","secret":"x"}"""),
      ("gmall", "user_info", "insert", 2L, """{"id":"5","name":"a","phone":"123"}"""),
      ("gmall", "unknown_table", "insert", 3L, """{"id":"9"}"""))
      .toDF("database", "table", "type", "ts", "data")
    val routed = CdcRouter.route(CdcRouter.validRecords(records), cfg()).collect()
    assert(routed.length == 2, "unconfigured tables are dropped")
    val fact = routed.find(_.getAs[String]("sink_type") == "kafka").get
    assert(fact.getAs[String]("topic") == "dwd_order_info")
    assert(!fact.getAs[String]("value").contains("secret"), "pruned column must not leak")
    assert(fact.getAs[String]("value").contains("user_id"))
    val dim = routed.find(_.getAs[String]("sink_type") == "hbase").get
    assert(dim.getAs[String]("sink_pk") == "id")
    assert(!dim.getAs[String]("value").contains("phone"))
  }

  test("same-key records within ONE micro-batch keep only the latest (by ts)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("cdc-dup").toString
    val ms = MemoryStream[(String, String, String, Long, String)]
    ms.addData(
      ("gmall", "user_info", "insert", 1L, """{"id":"5","name":"first"}"""),
      ("gmall", "user_info", "update", 2L, """{"id":"5","name":"second"}"""))
    val q = CdcRouter.run(spark, ms.toDF().toDF("database", "table", "type", "ts", "data"),
      cfg _, s"$tmp/facts", s"$tmp/dims", s"$tmp/ckpt")
    q.awaitTermination()
    val rows = spark.read.parquet(s"$tmp/dims/dim_user_info").collect()
    assert(rows.length == 1, s"one row per pk after intra-batch dedup: ${rows.toSeq}")
    assert(rows.head.getAs[String]("value").contains("second"), "latest ts wins")
  }

  test("config hot-reload: a batch sees the config as of ITS trigger (5s-timer parity)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("cdc-reload").toString
    // mutable provider — the per-batch re-read that replaces the reference's
    // MySQL polling Timer (TableProcessFunction.java:51-60)
    var sinkTable = "dwd_order_info_v1"
    def provider() = Seq(
      ("order_info", "insert", "kafka", sinkTable, "id", null.asInstanceOf[String]))
      .toDF("source_table", "operate_type", "sink_type", "sink_table", "sink_columns", "sink_pk")

    // one running query; the config changes between its two triggers
    val ms = MemoryStream[(String, String, String, Long, String)]
    val q = CdcRouter.run(spark, ms.toDF().toDF("database", "table", "type", "ts", "data"),
      provider _, s"$tmp/facts", s"$tmp/dims", s"$tmp/ckpt",
      Trigger.ProcessingTime("100 milliseconds"))
    try {
      ms.addData(("gmall", "order_info", "insert", 1L, """{"id":"1"}"""))
      q.processAllAvailable()
      sinkTable = "dwd_order_info_v2" // config change between triggers
      ms.addData(("gmall", "order_info", "insert", 2L, """{"id":"2"}"""))
      q.processAllAvailable()
    } finally q.stop()

    val topics = spark.read.json(s"$tmp/facts").select("topic").collect().map(_.getString(0)).sorted
    assert(topics.toSeq == Seq("dwd_order_info_v1", "dwd_order_info_v2"),
      s"each batch must route by its trigger-time config: ${topics.toSeq}")
  }

  test("a batch replayed after a crash before its commit does not duplicate facts") {
    val tmp = java.nio.file.Files.createTempDirectory("cdc-replay").toString
    val in = new java.io.File(s"$tmp/in"); in.mkdirs()
    java.nio.file.Files.write(new java.io.File(in, "b1.jsonl").toPath, java.util.Arrays.asList(
      """{"database":"gmall","table":"order_info","type":"insert","ts":1,"data":"{\"id\":\"1\",\"user_id\":\"7\"}"}""",
      """{"database":"gmall","table":"order_info","type":"insert","ts":2,"data":"{\"id\":\"2\",\"user_id\":\"8\"}"}""",
      """{"database":"gmall","table":"user_info","type":"insert","ts":3,"data":"{\"id\":\"5\",\"name\":\"a\"}"}"""))
    def drain(): Unit = CdcRouter.run(spark,
      spark.readStream.schema(CdcRouter.envelopeSchema).json(in.getPath),
      cfg _, s"$tmp/facts", s"$tmp/dims", s"$tmp/ckpt").awaitTermination()
    drain()
    def facts() = spark.read.json(s"$tmp/facts").select("topic", "value").collect().toSeq
    val before = facts()
    assert(before.size == 2)

    val commits = new java.io.File(s"$tmp/ckpt/commits")
    val last = commits.listFiles().map(_.getName).filter(_.forall(_.isDigit)).maxBy(_.toLong)
    commits.listFiles().filter(f => f.getName == last || f.getName == s".$last.crc")
      .foreach(f => assert(f.delete()))
    drain()
    assert(commits.list().contains(last), "the replayed batch committed")
    assert(facts().sortBy(_.toString) == before.sortBy(_.toString),
      "the replayed batch id is skipped by the fact sink")
    val dims = spark.read.parquet(s"$tmp/dims/dim_user_info")
    assert(dims.count() == 1, "the dim upsert is idempotent on replay")
  }

  test("end-to-end: facts land per-topic, dims upsert with last-writer-wins") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("cdc").toString
    val ms = MemoryStream[(String, String, String, Long, String)]
    val cdc = ms.toDF().toDF("database", "table", "type", "ts", "data")
    ms.addData(
      ("gmall", "order_info", "insert", 1L, """{"id":"1","user_id":"7","total_amount":"9.5"}"""),
      ("gmall", "user_info", "insert", 2L, """{"id":"5","name":"alice"}"""),
      ("gmall", "user_info", "insert", 3L, """{"id":"6","name":"bob"}"""))
    val q1 = CdcRouter.run(spark, cdc, cfg _, s"$tmp/facts", s"$tmp/dims", s"$tmp/ckpt")
    q1.awaitTermination()
    // second batch: update an existing dim row
    val ms2 = MemoryStream[(String, String, String, Long, String)]
    ms2.addData(("gmall", "user_info", "update", 4L, """{"id":"5","name":"alice2"}"""))
    val q2 = CdcRouter.run(spark, ms2.toDF().toDF("database", "table", "type", "ts", "data"),
      cfg _, s"$tmp/facts", s"$tmp/dims", s"$tmp/ckpt2")
    q2.awaitTermination()

    val facts = spark.read.json(s"$tmp/facts")
    assert(facts.count() == 1)
    assert(facts.select("topic").head.getString(0) == "dwd_order_info")
    val dims = spark.read.parquet(s"$tmp/dims/dim_user_info")
    val byId = dims.collect().map(r => r.getAs[String]("id") -> r.getAs[String]("value")).toMap
    assert(byId.keySet == Set("5", "6"))
    assert(byId("5").contains("alice2"), s"upsert must win: ${byId("5")}")
  }
}
