package graft
import org.apache.spark.sql.SparkSession
object Bench {
  /** The tables and local cores every timed run uses; graft.Dev reuses both. */
  val sfDir: String = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
  val cores: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt

  def main(args: Array[String]): Unit = {
    val spark = Sessions.bench(cores)
    spark.sparkContext.setLogLevel("WARN")
    // Warm up: JVM/codegen paths + OS page cache for the inputs, so per-query
    // numbers measure operator cost, not cold-start. Per-table try/catch: a
    // single unreadable table must degrade to its queries reporting -1, not
    // kill the whole bench before the first measurement (BENCH_r07/r08 died
    // exactly here when the regenerated events parquet changed type).
    // NonFatal only: an OutOfMemoryError/LinkageError here means a corrupted
    // JVM whose per-query numbers would be garbage — abort loudly instead
    Tables.names.foreach { n =>
      try Tables.load(spark, sfDir, n).count()
      catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[bench] warmup $n FAILED: ${e.getMessage}") }
    }
    // a failed query reports -1 (never a fast-looking elapsed time) and is
    // loudly visible on stderr — a regression must not flatter the benchmark
    val rt = Runtime.getRuntime
    // dev filter: SPARK_GRAFT_BENCH_ONLY=q69,q94 times just those queries
    // (floor patching / single-query iteration); unset = the full suite
    val ordered = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .fold(SparkEntry.queries.toSeq.sortBy(_._1))(only => SparkEntry.select(only.split(',')))
    // INTERLEAVED min-of-N (default 3): run the whole query list N times in
    // run order and keep each query's minimum. A co-tenant load that ramps
    // mid-run (the round-5 artifact: q32+ flagged 2.3-9.6x as a contiguous
    // block while the same code benched 45 s on a quiet machine) inflates
    // every PASS at the point it ramps — but each query gets N samples
    // spread across the run's full wall-clock span, so its minimum comes
    // from whichever pass dodged the spike. A transient single-pass spike
    // on one query is likewise discarded. The minimum is the right statistic
    // for a regression gate: it estimates the code's cost, not the machine's
    // mood, and a genuine regression raises all N samples together.
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt
    def runOnce(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      val sec = try {
        fn(spark, sfDir).count()
        (System.nanoTime() - t0) / 1e9
      } catch {
        case scala.util.control.NonFatal(e) =>
          System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
          -1.0
      }
      // Queries are independent runs: release anything this one persisted.
      // Operators that cache a build-step intermediate (clusters() labels,
      // ivfAnn's assigned corpus, cleanCorpus's survivor boundary) return
      // plans backed by those caches; without this, every later query runs
      // with that storage pinned — measured in round 2 as a uniform 2.5-3×
      // slowdown on the whole post-q32 block (BENCH_r02 vs r01).
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
      sec
    }
    // LOAD SENTINEL (round-16 VERDICT #4): a pinned CPU-shaped calibration
    // probe — 5×10⁸ xxhash64 folds across all cores, no I/O, no data
    // dependence — run at the START and END of every pass. The emitted
    // statistic is the MIN over the run's samples, deliberately MATCHING
    // the per-query statistic (each query reports its min over passes):
    // if load hits only some passes, the query minima come from the quiet
    // pass and a median sentinel would inflate the floors against them,
    // masking real regressions (round-16 self-review #1). check_bench
    // anchors its load adjustment on sentinel/floor("_sentinel") instead
    // of the circular median got/floor ratio (which a real multi-query
    // regression inflates, partially masking itself).
    def sentinelOnce(): Double = {
      val t0 = System.nanoTime()
      // bit_xor, not sum: ANSI mode makes a long-sum of full-range hashes
      // an overflow error; the xor fold does the same per-row work
      spark.range(0L, 500000000L, 1L, cores)
        .selectExpr("bit_xor(xxhash64(id)) as s").collect()
      (System.nanoTime() - t0) / 1e9
    }
    sentinelOnce() // codegen/JIT warmup — the samples below measure load
    val sentinelSamples = scala.collection.mutable.ArrayBuffer.empty[Double]
    val samples = (1 to reps).map { pass =>
      val t0 = System.nanoTime()
      sentinelSamples += sentinelOnce()
      val passTimes = ordered.map { case (name, fn) =>
        val sec = runOnce(name, fn)
        val usedMb = (rt.totalMemory() - rt.freeMemory()) >> 20
        System.err.println(f"[bench] pass$pass $name $sec%.2fs heapUsed=${usedMb}MB")
        sec
      }
      sentinelSamples += sentinelOnce()
      System.err.println(f"[bench] pass$pass total ${(System.nanoTime() - t0) / 1e9}%.1fs " +
        f"sentinel=${sentinelSamples.takeRight(1).head}%.2fs")
      passTimes
    }
    val sentinel = sentinelSamples.min
    System.err.println(
      f"[bench] sentinel min $sentinel%.2fs over ${sentinelSamples.size} samples " +
        s"(${sentinelSamples.map(v => f"$v%.2f").mkString(",")})")
    // min over passes; any pass failing marks the query failed (-1) so a
    // flaky query can never hide behind one lucky pass
    val results = ordered.zipWithIndex.map { case ((name, _), i) =>
      val vals = samples.map(_(i))
      name -> (if (vals.exists(_ < 0)) -1.0 else vals.min)
    }
    // The driver captures only the last 2000 chars of stdout, finds the last
    // complete JSON line in it, and json-parses it (verified against the
    // BENCH_r09 artifact: parsed == the one complete line in the tail;
    // BENCH_r10 got parsed:null because 177 queries at "qNN":%.2f made the
    // line 2.1 KB — longer than the tail window minus sbt's ~70-char
    // [success] suffix, so no complete line survived). Three measures keep
    // the numbers ingestible forever:
    //  1. BENCH_LOCAL.json (cwd = repo root under sbt) gets the FULL
    //     precision line — full query names, seconds — the stable file a
    //     human, the judge, or a future driver reads whole.
    //  2. stderr gets the same full line (sbt passes stderr through raw).
    //  3. stdout's LAST line is a COMPACT variant sized for the tail
    //     window: short qNN keys, integer CENTISECOND values (self-described
    //     by "queries_unit":"centiseconds"; 2-3 chars vs 4-5 for %.2f). If
    //     even that tops 1900 chars (~190+ queries), keys drop their 'q'
    //     ("key_prefix":"q" says so) for another ~180 chars of headroom.
    //     TERMINAL tier (round-11 ADVICE #1 — the stripped form is ~1815
    //     chars at 196 queries, ~10 more queries would exhaust the window
    //     with no further tier): drop the per-query map entirely and point
    //     at BENCH_LOCAL.json via "queries_in"; totals/failed counts stay
    //     inline so the driver's parsed line is never empty.
    //     tools/check_bench.py normalizes both compact forms and follows
    //     the queries_in pointer.
    def s2(v: Double): String = String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))
    val total = results.map(_._2).filter(_ >= 0).sum
    val fullQs = results.map { case (k, v) => s""""$k":${s2(v)}""" }.mkString("{", ",", "}")
    val fullLine =
      s"""{"metric":"total","value":${s2(total)},"unit":"sec",""" +
        s""""sentinel":${s2(sentinel)},"queries":$fullQs,"sf":"$sfDir"}"""
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get("BENCH_LOCAL.json"), fullLine + "\n")
    catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[bench] BENCH_LOCAL.json write failed: ${e.getMessage}") }
    System.err.println(fullLine)
    val centi = results.map { case (k, v) =>
      (k.takeWhile(_ != '_'), if (v < 0) "-1" else math.round(v * 100).toString)
    }
    def compact(stripQ: Boolean): String = {
      val qs = centi.map { case (k, cv) =>
        s""""${if (stripQ) k.drop(1) else k}":$cv""" }.mkString("{", ",", "}")
      val kp = if (stripQ) """"key_prefix":"q",""" else ""
      s"""{"metric":"total","value":${s2(total)},"unit":"sec",$kp""" +
        s""""sentinel":${s2(sentinel)},""" +
        s""""queries_unit":"centiseconds","queries":$qs,"sf":"$sfDir"}"""
    }
    val line = {
      val l0 = compact(stripQ = false)
      if (l0.length <= 1900) l0
      else {
        val l1 = compact(stripQ = true)
        if (l1.length <= 1900) l1
        else s"""{"metric":"total","value":${s2(total)},"unit":"sec",""" +
          s""""sentinel":${s2(sentinel)},""" +
          s""""queries_in":"BENCH_LOCAL.json","n_queries":${results.size},""" +
          s""""failed":${results.count(_._2 < 0)},"sf":"$sfDir"}"""
      }
    }
    println(line)
    spark.stop()
  }
}
