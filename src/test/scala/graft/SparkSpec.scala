package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs (one JVM per `sbt test` run). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  val sfDir = "/root/testdata/sf0.001"

  /** Run `body` with `spark.graft.index.retainEpochs` set to `n`,
    * RESTORING the previous value after — the session is shared across
    * every suite in the run, so a leaked retention window silently
    * changes other suites' GC behavior (it did: two IvfIndexSpec
    * GC-sensitive cases failed only under full-suite ordering).
    */
  def withIndexRetention[A](n: Int)(body: => A): A =
    graft.operators.FlatManifest.withRetention(spark, n)(body)
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
