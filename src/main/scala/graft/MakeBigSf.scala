package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Synthesizes a larger scale factor from an existing one by unioning N
  * key-offset copies of the fact tables (dimensions nation/region stay
  * single-copy), preserving every join relationship — copy i's orders
  * reference copy i's customers, and so on. Local scaling-slope tool:
  * sf0.1 × 10 ≈ sf1, letting the bench demonstrate how query times grow
  * toward the 100 TB posture without driver-provided data at that size.
  *
  * Usage: runMain graft.MakeBigSf <srcDir> <dstDir> [copies]
  */
object MakeBigSf {

  private val Off = 100_000_000L // beyond any source key

  // per table: columns that get the per-copy key offset
  private val keyCols: Map[String, Seq[String]] = Map(
    "region" -> Nil,
    "nation" -> Nil,
    "customer" -> Seq("c_custkey"),
    "supplier" -> Seq("s_suppkey"),
    "part" -> Seq("p_partkey"),
    "orders" -> Seq("o_orderkey", "o_custkey"),
    "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
    "events" -> Seq("event_id", "user_id"),
    "documents" -> Seq("doc_id"),
    "embeddings" -> Seq("vec_id"))

  def main(args: Array[String]): Unit = {
    val src = args(0)
    val dst = args(1)
    val copies = args.lift(2).map(_.toInt).getOrElse(10)
    val spark = Session.local(Session.cpus)

    keyCols.foreach { case (table, keys) =>
      // Tables handles the events.ts TIMESTAMP(NANOS) parquet type that a
      // plain read rejects; the copy is written back as micros
      val base = Tables(spark, src, table)
      val out: DataFrame =
        if (keys.isEmpty) base
        else (0 until copies).map { i =>
          val offset = keys.foldLeft(base) { (df, k) =>
            // preserve each key column's original type
            df.withColumn(k,
              (col(k).cast("long") + lit(i.toLong * Off))
                .cast(base.schema(k).dataType))
          }
          // copies must be DISTINCT documents, not clones: cloned text
          // gives identical minhash signatures, so LSH bucket membership
          // grows by the copy factor and candidate pairs QUADRATICALLY —
          // measured 7x super-linear on the dedup queries before this.
          // Prefixing every token per copy models "10x more documents"
          // instead of "every document 10x duplicated".
          if (table == "documents" && i > 0)
            offset.withColumn("text",
              regexp_replace(col("text"), "(\\S+)", s"c${i}_$$1"))
          else offset
        }.reduce(_ union _)
      out.write.mode("overwrite").parquet(s"$dst/$table.parquet")
      println(s"[bigsf] $table -> ${if (keys.isEmpty) 1 else copies}x")
    }
    spark.stop()
  }
}
