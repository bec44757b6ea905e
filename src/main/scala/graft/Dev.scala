package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{ExplainMode, QueryExecution}
import org.apache.spark.sql.util.QueryExecutionListener
import scala.jdk.CollectionConverters._

/** Dev harness: plan evidence for SparkEntry queries, in the session and on
  * the tables graft.Bench times (`$SPARK_GRAFT_SF_DIR`, `$SPARK_GRAFT_CPUS`).
  * `<names>` is comma-separated full query names or `qNN` prefixes.
  *
  *   runMain graft.Dev explain <names>           formatted physical plan of each result
  *   runMain graft.Dev actions <names> <outDir>  executed plan of every action each
  *                                               query runs, one file per query
  *
  * Timing one query is `SPARK_GRAFT_BENCH_ONLY=qNN runMain graft.Bench`. */
object Dev {
  private type Query = (SparkSession, String) => DataFrame

  def main(args: Array[String]): Unit = args match {
    case Array("explain", names) => forEach(names)(explain)
    case Array("actions", names, out) =>
      val outDir = Files.createDirectories(Paths.get(out))
      forEach(names)(actions(_, _, _, outDir))
    case _ =>
      throw new IllegalArgumentException("usage: graft.Dev explain <names> | actions <names> <outDir>")
  }

  private def forEach(names: String)(f: (SparkSession, String, Query) => Unit): Unit = {
    val picked = SparkEntry.select(names.split(','))
    val spark = Sessions.bench(Bench.cores)
    spark.sparkContext.setLogLevel("ERROR")
    try picked.foreach { case (name, fn) =>
      f(spark, name, fn)
      // queries are independent runs: release what this one persisted, as Bench does
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    } finally spark.stop()
  }

  private def explain(spark: SparkSession, name: String, fn: Query): Unit = {
    println(s"\n===== $name =====")
    println(fn(spark, Bench.sfDir).queryExecution
      .explainString(ExplainMode.fromString("formatted")).trim)
  }

  /** Counts the query and writes the executed plan of every action it ran —
    * the per-round loop actions the result frame's plan cannot show — to
    * `<outDir>/<name>.actions.txt`. */
  private def actions(spark: SparkSession, name: String, fn: Query, outDir: Path): Unit = {
    val plans = new ConcurrentLinkedQueue[String]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
        plans.add(qe.executedPlan.toString)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      fn(spark, Bench.sfDir).count()
      Thread.sleep(3000) // the listener bus fires asynchronously
    } finally spark.listenerManager.unregister(listener)
    val body = plans.asScala.zipWithIndex
      .map { case (p, i) => s"----- action ${i + 1} -----\n$p" }
      .mkString("\n")
    Files.writeString(outDir.resolve(s"$name.actions.txt"), body)
    println(s"$name: ${plans.size} action plans -> $outDir")
  }
}
