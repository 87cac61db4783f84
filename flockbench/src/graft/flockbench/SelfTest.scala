package graft.flockbench

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** The benchmark's own tests; test.py runs them. Prints one line per
  * test and exits non-zero when any fails.
  */
object SelfTest {

  private var failures = 0

  private def test(name: String)(body: => Unit): Unit =
    try { body; println(s"ok   $name") }
    catch { case e: Throwable => failures += 1; println(s"FAIL $name: $e") }

  private def refused(body: => Any): Boolean =
    try { body; false } catch { case _: IllegalArgumentException => true }

  def main(args: Array[String]): Unit = {
    test("same seed gives the same query order, another seed another") {
      assert(BatchSql.orders(7, 4) == BatchSql.orders(7, 4))
      assert(BatchSql.orders(7, 4) != BatchSql.orders(8, 4))
      assert(BatchSql.orders(7, 1).head.sorted == Layers.headline.sorted)
    }

    test("same seed gives the same stream inputs, another seed others") {
      val a = StreamNexmark.inputs(3, 2)
      assert(a == StreamNexmark.inputs(3, 2))
      val b = StreamNexmark.inputs(4, 2)
      assert(a.bids != b.bids && a.docs != b.docs && a.cdc != b.cdc)
      assert(a.bids.forall(_.length == StreamNexmark.BidsPerRound))
    }

    test("same seed gives the same store inputs, another seed others") {
      def flat(in: StoreRw.Inputs) =
        (in.base.map(v => (v._1, v._2.toSeq)), in.serves.map(_.map(v => (v._1, v._2.toSeq))),
          in.writes.map(w => (w.adds.map(v => (v._1, v._2.toSeq)), w.deletes)))
      val a = StoreRw.inputs(3, 4)
      assert(flat(a) == flat(StoreRw.inputs(3, 4)))
      assert(flat(a) != flat(StoreRw.inputs(4, 4)))
      // deletes only ever name ids live at their write
      assert(a.liveAfter(4).size == StoreRw.BaseN + 4 * (StoreRw.AddN - StoreRw.DelN))
    }

    test("tail percentile refuses fewer than ten samples beyond it") {
      val xs = (1 to 39).map(_.toDouble)
      assert(refused(Stats.tailPercentile(xs, 75)))
      assert(Stats.tailPercentile(xs :+ 40.0, 75) == 30.0)
      assert(refused(Stats.tailPercentile((1 to 100).map(_.toDouble), 95)))
      assert(Stats.tailPercentile((1 to 200).map(_.toDouble), 95) == 190.0)
    }

    test("digest ignores row order, not values") {
      val schema = StructType(Seq(StructField("b", StringType), StructField("a", LongType),
        StructField("c", DoubleType)))
      val rows = Array(Row("x", 1L, 0.5), Row("y", 2L, 3.0), Row(null, 3L, 1e300))
      val d = Digest.of(rows, schema)
      assert(d == Digest.of(rows.reverse, schema))
      assert(d != Digest.of(Array(Row("x", 1L, 0.5), Row("y", 2L, 3.0000001),
        Row(null, 3L, 1e300)), schema))
      // an integral double digests like the same integer (DuckDB may type it so)
      val asInt = StructType(Seq(StructField("b", StringType), StructField("a", LongType),
        StructField("c", LongType)))
      assert(Digest.of(Array(Row("y", 2L, 3.0)), schema) == Digest.of(Array(Row("y", 2L, 3L)), asInt))
    }

    test("settle units are excluded from the timed ones") {
      val units = Seq(900.0, 500.0, 400.0, 10.0, 11.0, 12.0)
      assert(Schedule(2, 3).timedUnits(units) == Seq(10.0, 11.0, 12.0))
      assert(Schedule(0, 2).timedUnits(units) == Seq(500.0, 400.0))
      assert(Schedule(2, 3).total == units.length)
    }

    if (failures > 0) { println(s"$failures failed"); sys.exit(1) }
  }
}
