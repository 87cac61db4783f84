package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated name-prefix filter (local iteration)
    val prefixes = if (args.length > 2) args(2).split(",").toSeq else Seq("")
    val spark = Session.local(Session.cpus,
      "spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS",
      // processing-time queries replay a deterministic arrival model here
      // so their DuckDB oracles can recompute them (graft.functions.ProcTime)
      graft.functions.ProcTime.ModeKey -> graft.functions.ProcTime.Deterministic)
    new java.io.File(outDir).mkdirs()
    val selected = SparkEntry.queries
      .filter { case (name, _) => prefixes.exists(name.startsWith) }
    // NEXMark/YSB inputs are generated, not driver tables — dump them to
    // parquet so their DuckDB oracles can read the same relations.
    def dump(prefix: String, f: SparkSession => Unit): Unit =
      if (selected.keys.exists(_.startsWith(prefix)))
        try f(spark)
        catch { case e: Throwable =>
          System.err.println(s"[verify] $prefix oracle input dump failed: ${e.getMessage}")
        }
    dump("nx_", operators.NexmarkQueries.dumpOracleInputs)
    dump("mm_", operators.Multimodal.dumpOracleInputs)
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
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
