package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.operators.MaxSimStore
import graft.streaming.StreamOps

/** Persisted MaxSim chunk store: the stored serve is TRANSPARENT
  * (bit-equal to the in-memory q178 scoring), the posting read prunes
  * to the query batch's token buckets, a novel (out-of-corpus) query
  * doc serves from the stored relations, and the streaming sibling
  * equals the batch serve at every batching boundary.
  */
class MaxSimStoreSpec extends SparkSpec {

  private def tmp(n: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_ms_$n").toString + "/ix"

  private def corpusDocs = graft.operators.TextOps.docs(spark, sfDir)

  test("stored serve equals the in-memory q178 scoring row-exactly") {
    import spark.implicits._
    val got = SparkEntry.queries("q182_maxsim_store")(spark, sfDir)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    val want = SparkEntry.queries("q178_maxsim_chunks")(spark, sfDir)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(got === want)
    assert(got.nonEmpty)
  }

  test("the posting read prunes to the query batch's token buckets") {
    import spark.implicits._
    val dir = tmp("prune")
    MaxSimStore.build(corpusDocs, dir)
    // one query doc probes a handful of tokens -> few buckets
    val one = corpusDocs.filter($"doc_id" === 100L).localCheckpoint(true)
    val served = MaxSimStore.serve(spark, dir, one)
    served.collect()
    val allPostingFiles =
      spark.read.parquet(s"$dir/postings").inputFiles.length
    // descend through AQE wrappers (AdaptiveSparkPlanExec / query
    // stages) — collectLeaves on the adaptive root sees no scans
    def scans(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[(String, Long)] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        scans(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        scans(q.plan)
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        Seq(f.relation.location.rootPaths.head.toString ->
          f.metrics("numFiles").value)
      case other =>
        other.children.flatMap(scans) ++
          other.subqueries.flatMap(scans) ++
          other.innerChildren.collect {
            case sp: org.apache.spark.sql.execution.SparkPlan => sp
          }.flatMap(scans)
    }
    val postingScans = scans(served.queryExecution.executedPlan)
      .filter(_._1.contains("postings")).distinct
    assert(postingScans.nonEmpty)
    val scanned = postingScans.map(_._2).sum
    assert(scanned > 0 && scanned < allPostingFiles,
      s"posting scan read $scanned of $allPostingFiles bucket files")
  }

  test("a novel query doc serves from the stored relations") {
    import spark.implicits._
    // borrow a corpus doc's text under a fresh id: every token exists
    // in the store, the doc itself does not — its near-copy source must
    // surface as a candidate
    val donor = corpusDocs.filter($"doc_id" === 200L)
      .select($"text").as[String].head()
    val dir = tmp("novel")
    MaxSimStore.build(corpusDocs, dir)
    val novel = Seq((999999L, donor)).toDF("doc_id", "text")
      .withColumn("toks", split($"text", "\\s+"))
    val got = MaxSimStore.serve(spark, dir, novel)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(got.nonEmpty && got.forall(_._1 == 999999L))
    assert(got.exists(_._3 == 200L),
      s"the exact-copy donor doc must be retrieved: $got")
    val top = got.minBy(_._2)
    assert(top._3 == 200L, s"donor should rank first: $got")
  }

  test("streaming serve equals the batch serve at every batching boundary") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = tmp("stream")
    MaxSimStore.build(corpusDocs, dir)
    val qdocs = corpusDocs.filter($"doc_id" % 100 === 0)
      .select($"doc_id", $"text").as[(Long, String)].collect()
    val t = new java.sql.Timestamp(1_436_918_400_000L)
    val events = qdocs.map { case (id, tx) => StreamOps.DocEvent(id, t, tx) }
    val in = MemoryStream[StreamOps.DocEvent]
    val emitted = scala.collection.mutable.Buffer[(Long, Seq[(Long, Long,
      Long, Long, Long)])]()
    // the serve stream enforces the mutable-store retention contract
    // (retainEpochs >= 2) like every other store serve stream
    withIndexRetention(2) {
      val q = StreamOps.maxSimServeStream(in.toDS(), dir) { (df, bid) =>
        emitted += bid -> df.as[(Long, Long, Long, Long, Long)]
          .collect().toSeq
      }
      try {
        in.addData(events.take(2).toSeq)
        q.processAllAvailable()
        in.addData(events.drop(2).toSeq)
        q.processAllAvailable()
      } finally q.stop()
    }
    assert(emitted.size === 2)
    // each batch's emission equals the batch serve over those docs
    val batches = Seq(events.take(2).toSeq, events.drop(2).toSeq)
    emitted.sortBy(_._1).zip(batches).foreach { case ((_, got), evs) =>
      val want = MaxSimStore.serve(spark, dir,
          evs.toDF().withColumn("toks", split($"text", "\\s+"))
            .select($"doc_id", $"toks"))
        .as[(Long, Long, Long, Long, Long)].collect().toSeq
      assert(got === want)
    }
    // and the union equals the all-at-once batch serve (per-query
    // results are independent of batching)
    val all = MaxSimStore.serve(spark, dir,
        corpusDocs.filter($"doc_id" % 100 === 0))
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(emitted.flatMap(_._2).sortBy(r => (r._1, r._2)) ===
      all.sortBy(r => (r._1, r._2)))
  }

  test("lifecycle: exactly-once ingest, delete mask, time travel, compaction transparency") {
    import spark.implicits._
    withIndexRetention(16) {
      val dir = tmp("lifecycle")
      val corpus = corpusDocs.localCheckpoint(true)
      MaxSimStore.build(corpus.filter($"doc_id" % 3 =!= 2), dir)
      val g1 = corpus.filter($"doc_id" % 3 === 2)
      MaxSimStore.addBatch(spark, dir, g1, gen = 1L)
      val queries = corpus.filter($"doc_id" % 100 === 0)
        .localCheckpoint(true)
      def rows(epoch: Option[Long] = None) =
        MaxSimStore.serve(spark, dir, queries, epoch = epoch)
          .as[(Long, Long, Long, Long, Long)].collect().toSeq
      val afterIngest = rows()
      assert(afterIngest.nonEmpty)
      // a replayed generation is a committed no-op
      MaxSimStore.addBatch(spark, dir, g1, gen = 1L)
      assert(rows() === afterIngest)
      val epochPreDelete =
        graft.operators.FlatManifest.read(spark, dir).epoch
      // delete a doc that currently surfaces as a candidate
      val victim = afterIngest.map(_._3).min
      MaxSimStore.delete(spark, dir, Seq(victim).toDF("doc_id"))
      val afterDelete = rows()
      assert(!afterDelete.exists(_._3 == victim),
        "tombstoned doc still served as a candidate")
      assert(afterDelete !== afterIngest)
      // time travel: the pre-delete epoch still serves the victim
      assert(rows(Some(epochPreDelete)) === afterIngest,
        "pre-delete epoch replay drifted")
      // compaction folds generations but must not change served rows
      MaxSimStore.compact(spark, dir)
      assert(rows() === afterDelete, "compaction changed served rows")
      val snap = graft.operators.FlatManifest.read(spark, dir)
      assert(snap.gens.length === 1 && snap.gens.head < 0
          && snap.tombs.isEmpty,
        s"compaction did not fold: $snap")
      // an empty ingest batch commits its generation without data
      MaxSimStore.addBatch(spark, dir,
        corpus.filter($"doc_id" < 0), gen = 9L)
      assert(rows() === afterDelete)
      assert(graft.operators.FlatManifest.read(spark, dir)
        .committedIngest(9L))
    }
  }
}
