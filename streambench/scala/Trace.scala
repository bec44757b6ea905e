package streambench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** A timed interval. Spans nest workload → app or query → micro-batch →
  * Spark job; `parent` names the enclosing span's id. */
final case class Span(id: String, name: String, kind: String, start: Long, end: Long,
                      parent: String)

/** Tracing for one workload, taken from outside the program: a public
  * SparkListener for jobs, stages and tasks, and a StreamingQueryListener for
  * micro-batch progress. Spans and counters stay in memory until [[toJson]].
  * When `enabled` is false nothing is registered and every call is a no-op
  * apart from the app/query spans, which cost one clock read each. */
final class Tracer(spark: SparkSession, val enabled: Boolean, workload: String) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
  // streaming query id -> app name
  val queryApp = new java.util.concurrent.ConcurrentHashMap[String, String]()

  private val ctr = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  private def add(k: String, v: Long): Unit = ctr.merge(k, v, (a, b) => a + b)
  def counter(k: String): Long = Option(ctr.get(k)).map(_.longValue).getOrElse(0L)
  val jobsByGroup = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  // time spent inside this tracer's callbacks: the work tracing adds
  private val busyNs = new java.util.concurrent.atomic.AtomicLong()
  private def timed(body: => Unit): Unit = {
    val t = System.nanoTime()
    try body finally busyNs.addAndGet(System.nanoTime() - t)
  }

  /** Callback time as a share of `wallS`, the traced pass's wall time. */
  def overheadShare(wallS: Double): Double = busyNs.get / 1e9 / wallS

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = timed {
      val p = Option(e.properties)
      val group = p.flatMap(x => Option(x.getProperty("spark.jobGroup.id")))
      val qid = p.flatMap(x => Option(x.getProperty("sql.streaming.queryId")))
      val batch = p.flatMap(x => Option(x.getProperty("spark.job.description")))
        .flatMap(d => "batch = (\\d+)".r.findFirstMatchIn(d).map(_.group(1)))
      val parent = (qid, batch) match {
        case (Some(q), Some(b)) => s"batch:$q:$b"
        case _ => group.map(g => s"query:$g").getOrElse(s"workload:$workload")
      }
      group.foreach(g => jobsByGroup.merge(g, 1L, (a, b) => a + b))
      jobStart.put(e.jobId, (e.time, parent))
      add("spark.jobs", 1)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
      Option(jobStart.remove(e.jobId)).foreach { case (t0, parent) =>
        spans.add(Span(s"job:${e.jobId}", s"job ${e.jobId}", "job", t0, e.time, parent))
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = timed {
      add("spark.stages", 1)
      val m = e.stageInfo.taskMetrics
      if (m != null) {
        add("spark.shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
        add("spark.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
        add("spark.spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
        add("spark.task_time_ms", m.executorRunTime)
      }
      add("spark.tasks", e.stageInfo.numTasks)
    }
  }

  private val queryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = timed {
      val p = e.progress
      progress.add(p)
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli
      val dur = Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)
      val app = Option(queryApp.get(p.id.toString)).getOrElse("unknown")
      spans.add(Span(s"batch:${p.id}:${p.batchId}", s"$app batch ${p.batchId}", "batch",
        start, start + dur, s"app:$app"))
    }
  }

  if (enabled) {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.streams.addListener(queryListener)
  }

  /** Time `body` as a span of `kind` named `name` under the workload. */
  def span[T](kind: String, name: String)(body: => T): (T, Double) = {
    val t0 = System.currentTimeMillis()
    val n0 = System.nanoTime()
    try {
      val r = body
      (r, (System.nanoTime() - n0) / 1e9)
    } finally
      spans.add(Span(s"$kind:$name", name, kind, t0, System.currentTimeMillis(),
        s"workload:$workload"))
  }

  /** Drain the listener bus so every event of the work done so far is seen. */
  def flush(): Unit = if (enabled) {
    // the listener bus is asynchronous; an empty job round-trips it
    val deadline = System.currentTimeMillis() + 5000
    spark.sparkContext.parallelize(Seq(1), 1).count()
    while (!jobStart.isEmpty && System.currentTimeMillis() < deadline) Thread.sleep(20)
    Thread.sleep(200)
  }

  def close(): Unit = if (enabled) {
    flush()
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.streams.removeListener(queryListener)
  }

  def progressOf(app: String): Seq[StreamingQueryProgress] =
    progress.asScala.toSeq.filter(p => queryApp.get(p.id.toString) == app)

  /** Spans with self time (span time minus the union of its children). */
  def spanJson(workloadStart: Long, workloadEnd: Long): String = {
    val all = Span(s"workload:$workload", workload, "workload", workloadStart, workloadEnd, null) +:
      spans.asScala.toSeq
    val children = all.groupBy(_.parent)
    def covered(s: Span): Long = {
      val iv = children.getOrElse(s.id, Nil)
        .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
        .filter(x => x._2 > x._1).sortBy(_._1)
      var tot = 0L; var curS = -1L; var curE = -1L
      iv.foreach { case (a, b) =>
        if (a > curE) { tot += curE - curS; curS = a; curE = b }
        else curE = math.max(curE, b)
      }
      tot + (curE - curS)
    }
    all.map { s =>
      Json.obj("id" -> s.id, "name" -> s.name, "kind" -> s.kind, "start_ms" -> s.start,
        "end_ms" -> s.end, "parent" -> s.parent,
        "self_ms" -> (s.end - s.start - covered(s)))
    }.mkString("[\n", ",\n", "\n]")
  }
}

/** Minimal JSON writer for the benchmark's outputs. */
object Json {
  def value(v: Any): String = v match {
    case null => "null"
    case s: String => Gen.jsonString(s).replace("\n", "\\n")
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.map { case (k, x) => s"${value(k.toString)}:${value(x)}" }
      .mkString("{", ",", "}")
    case s: Iterable[_] => s.map(value).mkString("[", ",", "]")
    case other => value(other.toString)
  }
  def obj(kv: (String, Any)*): String =
    kv.map { case (k, x) => s"${value(k)}:${value(x)}" }.mkString("{", ",", "}")
}
