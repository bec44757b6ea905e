package graft

import org.apache.spark.sql.SparkSession

/** The only place a SparkSession is built (SessionsSpec keeps it that way).
  * Every main and the test suites take their session from one of these
  * three, so their configurations cannot drift apart. All use getOrCreate:
  * a caller that already has a session gets it back with these settings
  * applied. */
object Sessions {

  /** `local[cores]` with `cores` shuffle partitions, UTC, UI off, plus
    * `conf`. */
  def local(cores: Int, conf: (String, String)*): SparkSession =
    base(cores)
      .master(s"local[$cores]")
      .config("spark.ui.enabled", "false")
      .config(conf.toMap)
      .getOrCreate()

  /** The session graft.Bench times in. Bench tables are single ~10-60MB
    * parquet files: the default 128MB split size would scan each on ONE
    * core; 8MB splits spread the scan. */
  def bench(cores: Int): SparkSession =
    local(cores, "spark.sql.files.maxPartitionBytes" -> "8m")

  /** A launchable app: spark-submit provides the master (a master set in
    * code would override its `--master`); standalone runs default to local. */
  def app(name: String, partitions: Int): SparkSession = {
    val b = base(partitions).appName(name)
    (if (sys.props.contains("spark.master")) b else b.master("local[*]")).getOrCreate()
  }

  private def base(partitions: Int): SparkSession.Builder =
    SparkSession.builder()
      .config("spark.sql.shuffle.partitions", partitions)
      .config("spark.sql.session.timeZone", "UTC")
}
