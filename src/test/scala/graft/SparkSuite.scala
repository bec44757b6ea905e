package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs: small partition count, UTC, UI off. */
trait SparkSuite extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSuite.session

  val sf0001 = "/root/testdata/sf0.001"
  val sf001 = "/root/testdata/sf0.01"
}

object SparkSuite {
  lazy val session: SparkSession = Sessions.local(4,
    "spark.sql.streaming.checkpointLocation" ->
      java.nio.file.Files.createTempDirectory("graft-ckpt").toString)
}
