package graft

import graft.operators.TextOps
import org.apache.spark.sql.functions.col

/** The banded LSH pair join ([[TextOps.lshPairs]]) keeps each pair only
  * at its first shared band instead of running a `distinct` over the
  * candidate pairs. On a corpus where several pairs share two or more
  * bands, it must emit every pair exactly once, and its pair set must
  * equal the plain (bidx, bandhash) self-join made distinct.
  */
class LshKernelSpec extends SparkSpec {

  test("the first-shared-band pair join emits each pair once, the distinct join's set") {
    import spark.implicits._
    val a = (0L until 16L).toArray
    // replace the given bands (4 rows each) of `a` by values unique to `id`
    def variant(id: Long, bands: Int*): Array[Long] =
      a.indices.map(p => if (bands.contains(p / 4)) 1000L * id + p else a(p)).toArray
    val docs = Seq(
      (1L, 10, a),
      (2L, 10, variant(2, 2, 3)),      // shares bands 0, 1 with 1
      (3L, 10, variant(3, 0)),         // shares bands 1, 2, 3 with 1; 1, 2 with 2
      (4L, 10, a.clone()),             // shares every band with 1
      (5L, 11, variant(5, 0, 1, 2)),   // shares band 3 with 1, 3 and 4
      (6L, 20, variant(6, 3)),         // shares 3 bands with 1, but sizes clash
      (7L, 10, variant(7, 0, 1, 2, 3)) // shares nothing
    )
    val base = docs.map { case (id, n, sig) => (id, (0L until n).toArray, sig) }
      .toDF("doc_id", "set", "sig")
    for ((bands, rows) <- Seq((4, 4), (8, 2))) {
      val banded = TextOps.lshBanded(base, "set", bands, rows)
      val got = TextOps.lshPairs(banded, bands).as[(Long, Long)].collect().toSeq
      val plain = banded.as("a")
        .join(banded.as("b"),
          col("a.bidx") === col("b.bidx") &&
            col("a.bandhash") === col("b.bandhash") &&
            col("a.doc_id") < col("b.doc_id") && TextOps.lshSizeCompatible)
        .select(col("a.doc_id"), col("b.doc_id")).as[(Long, Long)]
        .collect().toSeq
      assert(plain.size > plain.distinct.size,
        s"$bands bands: no pair shares two bands, the case tests nothing")
      assert(got.size == got.distinct.size,
        s"$bands bands: pairs emitted more than once: " +
          got.diff(got.distinct).sorted)
      assert(got.sorted == plain.distinct.sorted, s"$bands bands")
      assert(got.toSet.contains((1L, 4L)) && !got.toSet.contains((1L, 6L)))
    }
  }
}
