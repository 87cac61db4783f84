package graft.flockbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators.{Multimodal, NexmarkQueries}
import graft.sources.{Nexmark, Ysb}

/** Two steps of make_digests.py, which refreshes oracle_digests.tsv:
  *
  *   dump <dir>          the generated relations the nx_/mm_ oracles read,
  *                       plus oracle_sql.json for the headline queries
  *   digest <dir> <tsv>  digest of each <dir>/<name>.parquet (a DuckDB
  *                       oracle result), rendered exactly as the benchmark
  *                       renders a Spark result
  */
object MakeDigests {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    args(0) match {
      case "dump" => dump(spark, args(1))
      case "digest" => digest(spark, args(1), args(2))
    }
    spark.stop()
  }

  private def dump(s: SparkSession, dir: String): Unit = {
    def w(df: DataFrame, name: String): Unit =
      df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")
    val (n, eps) = (NexmarkQueries.N, NexmarkQueries.Eps)
    w(Nexmark.bids(s, n, eps).toDF(), "bids")
    w(Nexmark.auctions(s, n, eps).toDF(), "auctions")
    w(Nexmark.persons(s, n, eps).toDF(), "persons")
    w(Nexmark.sideInput(s), "side_input")
    w(Ysb.adEvents(s, n, eps).toDF(), "ysb_events")
    w(Ysb.campaigns(s).toDF(), "ysb_campaigns")
    val assets = Multimodal.assets(s, 2000)
    w(Multimodal.decodeMeta(assets).toDF(), "mm_meta")
    w(assets.toDF().select(org.apache.spark.sql.functions.col("asset_id"),
      org.apache.spark.sql.functions.col("kind"),
      org.apache.spark.sql.functions.hex(org.apache.spark.sql.functions.col("bytes"))
        .as("hexb")), "mm_assets_hex")
    val sql = graft.SparkEntry.oracleSql
    val json = Layers.headline.map(q => s"${Json.str(q)}: ${Json.str(sql(q))}")
      .mkString("{", ",\n", "}")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/oracle_sql.json"), json)
  }

  private def digest(s: SparkSession, dir: String, out: String): Unit = {
    val lines = Layers.headline.map { q =>
      val df = s.read.parquet(s"$dir/$q.parquet")
      s"$q\t${Digest.of(df.collect(), df.schema)}"
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out),
      (Seq("# DuckDB oracle digests of the headline queries at sf0.1, written by",
        "# make_digests.py; columns: query, digest/rows (see Digest in Stats.scala)") ++
        lines).mkString("", "\n", "\n"))
  }
}
