package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.operators.{BinaryStore, IvfBinaryStore, MaxSimStore, VectorOps}
import graft.streaming.StreamOps

/** Streaming ingest + condition-driven maintenance for the FLAT
  * manifest stores (BinaryStore / IvfBinaryStore / MaxSimStore) — the
  * write half the IVF/PQ tiers already had: one generation per batch
  * (gen = batchId + 1, exactly-once under the manifest), compaction on
  * observed read-amplification bounds, and a live serve tracking the
  * committed epochs.
  */
class FlatIngestStreamSpec extends SparkSpec {

  private def dir(name: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_flatstream_$name")
      .toString + "/st"

  private def toIndexVecs(df: org.apache.spark.sql.DataFrame) = {
    import spark.implicits._
    df.select($"vec_id", $"qv").as[(Long, Seq[Long])].collect()
      .map { case (id, v) => StreamOps.IndexVec(id, v.toArray) }.toSeq
  }

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(_.toSeq).toSet

  test("binaryIngestStream: one gen per batch, condition-driven fold") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val emb = VectorOps.quantized(spark, sfDir)
    val base = emb.filter($"vec_id" % 5 =!= 0)
    val d = dir("bin")
    BinaryStore.build(base, d)
    val fifth = emb.filter($"vec_id" % 5 === 0)
    val b1 = toIndexVecs(fifth.filter($"vec_id" % 10 === 0))
    val b2 = toIndexVecs(fifth.filter($"vec_id" % 10 =!= 0))
    val in = MemoryStream[StreamOps.IndexVec]
    val q = StreamOps.binaryIngestStream(in.toDS(), d, maxGens = 2)
    try {
      in.addData(b1)
      q.processAllAvailable()
      // batch 0 -> generation 1; 2 live gens = within bounds
      assert(graft.operators.FlatManifest.read(spark, d).gens.toSet
        === Set(0L, 1L))
      in.addData(b2)
      q.processAllAvailable()
      // batch 1 -> generation 2, 3 gens > maxGens -> fold to internal
      val snap = graft.operators.FlatManifest.read(spark, d)
      assert(snap.gens.length == 1 && snap.gens.head < 0L,
        s"expected one internal generation, got ${snap.gens}")
      // content is exactly base + both batches, each stored once
      val stored = BinaryStore.liveCodes(spark, d)
        .select($"vec_id").as[Long].collect().sorted.toSeq
      assert(stored === emb.select($"vec_id").as[Long].collect()
        .sorted.toSeq)
    } finally q.stop()
  }

  test("ivfBinaryIngestStream equals manual ingest; live serve tracks it") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    withIndexRetention(2) {
      val emb = VectorOps.quantized(spark, sfDir)
      val base = emb.filter($"vec_id" % 5 =!= 0)
      val dS = dir("ivfbin_s")
      val dM = dir("ivfbin_m")
      IvfBinaryStore.build(base, dS)
      IvfBinaryStore.build(base, dM)
      val fifth = emb.filter($"vec_id" % 5 === 0)
      val b1 = fifth.filter($"vec_id" % 10 === 0)
      val b2 = fifth.filter($"vec_id" % 10 =!= 0)
      val queries = VectorOps.binaryQueries(emb).limit(6)
        .localCheckpoint(true)
      val in = MemoryStream[StreamOps.IndexVec]
      val q = StreamOps.ivfBinaryIngestStream(in.toDS(), dS, maxGens = 8)
      try {
        in.addData(toIndexVecs(b1))
        q.processAllAvailable()
        // mid-stream: the streamed store serves its committed epoch
        IvfBinaryStore.addBatch(spark, dM, b1, gen = 1L)
        assert(rows(IvfBinaryStore.serve(spark, dS, queries, k = 5))
          == rows(IvfBinaryStore.serve(spark, dM, queries, k = 5)))
        in.addData(toIndexVecs(b2))
        q.processAllAvailable()
      } finally q.stop()
      IvfBinaryStore.addBatch(spark, dM, b2, gen = 2L)
      assert(rows(IvfBinaryStore.liveCodes(spark, dS))
        == rows(IvfBinaryStore.liveCodes(spark, dM)))
    }
  }

  test("maxSimIngestStream equals the manual df-at-commit ingest") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val corpus = graft.operators.TextOps.docs(spark, sfDir)
    val base = corpus.filter($"doc_id" % 3 =!= 2)
    val dS = dir("ms_s")
    val dM = dir("ms_m")
    MaxSimStore.build(base, dS)
    MaxSimStore.build(base, dM)
    val batch = corpus.filter($"doc_id" % 3 === 2)
    val t = new java.sql.Timestamp(1_436_918_400_000L)
    val events = batch.select($"doc_id", $"text").as[(Long, String)]
      .collect().map { case (id, tx) => StreamOps.DocEvent(id, t, tx) }
    val in = MemoryStream[StreamOps.DocEvent]
    val q = StreamOps.maxSimIngestStream(in.toDS(), dS, maxGens = 8)
    try {
      in.addData(events.toSeq)
      q.processAllAvailable()
    } finally q.stop()
    MaxSimStore.addBatch(spark, dM, batch, gen = 1L)
    val queries = corpus.filter($"doc_id" % 100 === 0)
    assert(rows(MaxSimStore.serve(spark, dS, queries))
      == rows(MaxSimStore.serve(spark, dM, queries)))
    assert(rows(MaxSimStore.serve(spark, dS, queries)).nonEmpty)
  }
}
