package streambench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.util.control.NonFatal

import graft.SparkEntry
import org.apache.spark.sql.SparkSession

/** The `warehouse_queries` workload: a fixed sample of
  * `graft.SparkEntry.queries`, run one after another. */
object Queries {

  /** Queries whose per-query time and job count the traced run reports. */
  val named: Seq[String] = Seq("q113", "q124", "q133", "q139", "q150", "q154", "q159",
    "q168", "q175", "q177", "q199")

  /** Every `stride`-th entry of the sorted query list. */
  def sample(stride: Int): Seq[String] =
    SparkEntry.queries.keys.toSeq.sorted.zipWithIndex.collect { case (n, i) if i % stride == 0 => n }

  def byPrefix(prefixes: Seq[String]): Seq[String] =
    SparkEntry.queries.keys.toSeq.sorted.filter(n => prefixes.contains(n.takeWhile(_ != '_')))

  /** The operator object each query's `SparkEntry` line calls, read from the
    * source the program was built from. */
  def owners(root: File): Map[String, String] = {
    val src = new String(Files.readAllBytes(
      Paths.get(root.getPath, "src/main/scala/graft/SparkEntry.scala")), "UTF-8")
    "\"(q\\d+_\\w+)\"\\s*->\\s*(?:\\(\\(\\w+, \\w+\\) => )?(\\w+)\\.".r
      .findAllMatchIn(src).map(m => m.group(1) -> m.group(2)).toMap
  }

  final case class Timed(name: String, seconds: Double, error: Option[String])

  /** Dump each query's result with `graft.Verify` (one parquet dir per query
    * under `out`, and `out/oracle_sql.json`) in the active session, which
    * Verify stops when it is done. */
  def dump(dir: String, names: Seq[String], out: File): Unit =
    graft.Verify.main(Array(dir, out.getPath, names.mkString(",")))

  /** Time each query once as `graft.Bench` does: a `.count()` of its result,
    * with caches released after each query. */
  def time(spark: SparkSession, dir: String, names: Seq[String], tracer: Tracer): Seq[Timed] =
    names.map { n =>
      spark.sparkContext.setJobGroup(n, n)
      val (err, secs) = tracer.span("query", n) {
        try { SparkEntry.queries(n)(spark, dir).count(); None }
        catch { case NonFatal(e) => Some(e.toString) }
      }
      spark.sparkContext.clearJobGroup()
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
      Timed(n, secs, err)
    }
}
