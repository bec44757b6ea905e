package streambench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Reads a topic directory from outside the program: the file sink's
  * `_spark_metadata` log gives each committed batch, its files and its commit
  * time (the log file's modification time). */
object Sinks {

  /** One committed sink batch. */
  final case class Batch(id: Long, commitMs: Long, files: Seq[File])

  private val pathRe = "\"path\":\"([^\"]+)\"".r

  def batches(topicDir: File): Seq[Batch] = {
    val meta = new File(topicDir, "_spark_metadata")
    val logs = Option(meta.listFiles()).getOrElse(Array.empty[File])
      .filter(f => f.getName.matches("\\d+(\\.compact)?"))
      .map(f => (f.getName.takeWhile(_ != '.').toLong, f))
      .groupBy(_._1).map { case (id, fs) => id -> fs.map(_._2).maxBy(_.getName.length) }
      .toSeq.sortBy(_._1)
    val seen = mutable.HashSet.empty[String]
    logs.map { case (id, f) =>
      val paths = Files.readAllLines(f.toPath, StandardCharsets.UTF_8).asScala.drop(1)
        .flatMap(l => pathRe.findFirstMatchIn(l).map(_.group(1)))
        .filter(seen.add)
      Batch(id, f.lastModified(), paths.map(p => new File(new java.net.URI(p))).toSeq)
    }
  }

  def readLines(f: File): Iterator[String] =
    Files.readAllLines(f.toPath, StandardCharsets.UTF_8).asScala.iterator.filter(_.nonEmpty)

  /** Rows in a topic: the committed rows of a sink directory, or every line
    * of every visible file under a generated or batch-written topic (the
    * latter may be partitioned into subdirectories). */
  def rows(topicDir: File): Long =
    if (new File(topicDir, "_spark_metadata").isDirectory)
      batches(topicDir).flatMap(_.files).map(f => readLines(f).size.toLong).sum
    else if (!topicDir.isDirectory) 0L
    else Files.walk(topicDir.toPath).iterator().asScala.map(_.toFile)
      .filter(f => f.isFile && !f.getName.startsWith(".") && !f.getName.startsWith("_"))
      .map(f => readLines(f).size.toLong).sum
}
