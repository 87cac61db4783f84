package graft

import org.apache.spark.sql.SparkSession

/** The one session factory of the repo's mains (Verify, Plans, PlanSweep,
  * MakeBigSf, StreamDemo): every main runs on the same local posture and
  * differs only by the confs it passes as `extraConfs`.
  */
object Session {

  /** `SPARK_GRAFT_CPUS`, else every processor the JVM sees. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** `local[cpus]` with one shuffle partition per cpu, UTC, no UI and WARN
    * logging. `extraConfs` are applied last, so a main may override any of
    * the shared settings.
    */
  def local(cpus: Int, extraConfs: (String, String)*): SparkSession = {
    val base = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // static conf, default 100: the catalog shares many generated-class
      // shapes (tokenize/hash subtrees) and a cache of 100 thrashes
      .config("spark.sql.codegen.cache.maxEntries", "4096")
    val spark = extraConfs
      .foldLeft(base) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
