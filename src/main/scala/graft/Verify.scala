package graft
import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated query names or qNN prefixes to dump,
    // for iterating on a few queries; the correctness gate passes two args
    val (sfDir, outDir) = (args(0), args(1))
    val picked = args.lift(2)
      .fold(SparkEntry.queries.toSeq)(only => SparkEntry.select(only.split(',')))
    val spark = Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    picked.foreach { case (name, fn) =>
      // NonFatal only: an OutOfMemoryError/LinkageError leaves a JVM whose
      // later dumps cannot be trusted — abort loudly, as Bench does
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case NonFatal(e) =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // release operator-internal persists between queries, as Bench does —
      // the span/cluster/assignment caches would otherwise accumulate
      // across the whole 95-query dump (q69's exploded span frame alone is
      // larger than the corpus)
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
