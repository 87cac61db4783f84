package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.FlatManifest.Snap
import graft.operators.GenStore.Root

/** PERSISTED late-interaction (MaxSim) chunk index — the serving form
  * of q178's batch corpus-vs-sample audit: a retrieval deployment
  * serves MaxSim queries against a STORED chunk index instead of
  * re-deriving the corpus relations per batch. The store materializes
  * exactly the three relations q178 derives (one shared code path —
  * [[TextOps.maxSimChunkRels]] / [[TextOps.maxSimRarePrefix]] — so
  * store-serve equality is by construction, and the q182 gate entry
  * hashes the stored serve against q178's own oracle):
  *
  *   - `chunks/gen=…/`   (cdoc, cc, vb, n2b, m): the scoring side —
  *     one packed 16-long vector + norm + multiplicity per distinct
  *     chunk;
  *   - `postings/gen=…/bucket=…/` (cdoc, cc, tok): the ROUTING side —
  *     each chunk's 2 rarest tokens, partitioned by a 64-way md5
  *     bucket of the token, so a serving batch's probe reads only its
  *     tokens' bucket directories (static partition pruning, the
  *     IvfIndex probe-list discipline);
  *   - `df/gen=…/bucket=…/` (tok, tok_df): PER-GENERATION document-
  *     frequency partials, bucket-partitioned the same way; the
  *     serve-time df is their sum over live generations.
  *   - `tombstones/del=…/` (doc_id): logical deletes masked on
  *     `cdoc`; compaction applies them physically.
  *
  * Under the [[GenStore]] lifecycle two routing statistics are
  * VERSIONED BY COMMIT rather than globally exact — both
  * deterministic, both replayed by the q203 oracle:
  *
  *   - A generation's posting prefixes (its chunks' "2 rarest
  *     tokens") are chosen under the df IN FORCE AT ITS COMMIT
  *     (committed partials + the batch's own), the same way a search
  *     engine's posting tiers keep the scoring stats of their build.
  *     Earlier generations' prefixes are NOT rewritten by later
  *     ingests (that would be a corpus-scale rewrite per batch;
  *     compaction folds files but deliberately preserves committed
  *     prefixes, keeping compaction serve-transparent — pre/post
  *     rows identical, spec-pinned).
  *   - Deletes mask chunks and postings exactly (scoring never sees a
  *     deleted doc) but do NOT decrement df partials — df is a
  *     ROUTING statistic, stale by up to the deleted volume until a
  *     rebuild, never a scoring input.
  *
  * Serve recomputes the QUERY side (chunks, vectors, rare-2 prefixes)
  * from the incoming docs — batch-bounded work — and routes: query
  * prefix tokens → bucket-pruned posting read → candidate chunk pairs
  * → the shared scoring tail. Query docs that also live in the corpus
  * serve bit-equal to q178 (the spec pins it). A NOVEL query doc's
  * rare-term selection uses the STORED df with inner-join semantics:
  * tokens the corpus has never seen cannot route anyway, so they are
  * skipped in favor of the rarest stored tokens — a strict recall
  * improvement over q178's rule, documented as the one delta.
  *
  * Scale: a build/ingest is the BATCH's chunk pass plus three
  * partitioned writes and one vocab-scale df read for the prefix rule; a serve's corpus-side reads are the
  * probed bucket directories (≤ 64, typically far fewer) and ONE
  * SHUFFLE_HASH pass of the chunks relation at candidate cardinality;
  * nothing driver-sized but the bucket lists and the manifest.
  */
object MaxSimStore extends FlatStore {

  /** Token-routing fan-out: postings/df partition into this many md5
    * buckets. 64 keeps directory counts trivial while a small serving
    * batch prunes to a handful.
    */
  val Buckets = 64L

  private val chunks = Root("chunks", Seq("cdoc", "cc", "vb", "n2b", "m"))
  private val postings = Root("postings", Seq("cdoc", "cc", "tok"),
    Seq("bucket"))
  private val dfParts = Root("df", Seq("tok", "tok_df"), Seq("bucket"))
  protected val roots = Seq(chunks, postings, dfParts)
  protected val tombKey = "doc_id"
  override protected val rowKey = "cdoc"

  private def bucketCol(tok: Column): Column =
    conv(substring(md5(tok), 1, 15), 16, 10).cast("long") % Buckets

  /** `rows` with their token bucket, one file per bucket directory (the
    * q156 small-files lesson).
    */
  private def bucketed(rows: DataFrame): DataFrame =
    rows.withColumn("bucket", bucketCol(col("tok"))).repartition(col("bucket"))

  /** Write one generation from a doc batch. Its posting prefixes are
    * selected under the df in force at this commit — `snap`'s stored
    * partials plus the batch's own (see the class doc's versioning
    * rule); a build's is the corpus's own df, exactly q178's rule.
    * Cost: the batch's chunk pass + one vocab-scale read of the stored
    * df partials.
    */
  protected def writeGen(dir: String, snap: Snap, docs: DataFrame,
      gen: Long): Set[Long] = {
    val s = docs.sparkSession
    import s.implicits._
    val (vec, mRel, tokd) = TextOps.maxSimChunkRels(docs)
    val batchDf = tokd.groupBy($"tok").agg(count(lit(1)).as("tok_df"))
    val dfAtCommit =
      if (snap.gens.isEmpty) batchDf
      else rel(s, dir, snap, dfParts).select($"tok", $"tok_df")
        .unionByName(batchDf)
        .groupBy($"tok").agg(sum($"tok_df").as("tok_df"))
    writeRoot(chunks, dir, vec.join(mRel, Seq("doc_id", "h"))
      .select($"doc_id".as("cdoc"), $"h".as("cc"),
        $"v".as("vb"), $"n2".as("n2b"), $"m"), gen) ++
      writeRoot(postings, dir, bucketed(TextOps.maxSimRarePrefix(tokd,
        dfAtCommit).select($"doc_id".as("cdoc"), $"h".as("cc"), $"tok")),
        gen) ++
      writeRoot(dfParts, dir, bucketed(batchDf), gen)
  }

  /** Chunks and postings rewrite masked (committed prefixes PRESERVED —
    * compaction is serve-transparent, spec-pinned), the df partials
    * fold to their sum.
    */
  protected def fold(s: SparkSession, dir: String, snap: Snap,
      counted: DataFrame, cells: Set[Long], masked: DataFrame => DataFrame,
      gen: Long): Set[Long] = {
    import s.implicits._
    val livePost = masked(rel(s, dir, snap, postings))
      .select(postings.cols.map(col): _*).localCheckpoint(true)
    val dfSum = rel(s, dir, snap, dfParts)
      .groupBy($"tok").agg(sum($"tok_df").as("tok_df"))
      .withColumn("bucket", bucketCol($"tok")).localCheckpoint(true)
    writeLive(masked(counted).select(chunks.data.map(col): _*)) { c =>
      writeRoot(chunks, dir, c, gen) ++
        writeRoot(postings, dir, livePost.repartition($"bucket"), gen) ++
        writeRoot(dfParts, dir, dfSum.repartition($"bucket"), gen)
    }
  }

  /** Build the store from a doc set (doc_id, toks, …) as manifest
    * epoch 1, generation 0. The doc set is pinned once so the df
    * relation and the chunk derivation see the SAME materialization.
    */
  def build(dset: DataFrame, dir: String): Unit =
    create(dset.sparkSession, dir)(built(
      writeGen(dir, GenStore.Fresh, dset.localCheckpoint(true), 0L)))

  /** Ingest a doc batch as caller generation `gen` ([[GenStore]]). */
  def addBatch(s: SparkSession, dir: String, batch: DataFrame,
      gen: Long): Unit = ingest(s, dir, batch, gen)

  // ---------- serving ----------

  /** MaxSim top-k from the stored index for a batch of query docs
    * (doc_id, toks, …) against the committed snapshot (or a RETAINED
    * `epoch` — the time-travel read). Returns (query_doc, rk,
    * cand_doc, score, n_chunks_hit) — q178's shape.
    */
  def serve(s: SparkSession, dir: String, queryDocs: DataFrame,
      k: Int = 5, epoch: Option[Long] = None): DataFrame = {
    import s.implicits._
    val snap = snapAt(s, dir, epoch)
    val (qvec, qmRel, qtokd) = TextOps.maxSimChunkRels(queryDocs)
    // qtokd deliberately stays LAZY like the corpus side: an A/B at
    // sf10 read checkpoint-once as -5% on the 20k-doc audit batch but
    // WORSE on a 100-doc serving batch (the materialization barrier
    // costs more than the recompute saves) — serve cost is dominated
    // by the pair-scoring tail either way (BENCH_SF10.json
    // `maxsim_store_split_round12`).
    // query-side df lookup, pruned to the batch's token buckets, the
    // live-generation partials summed
    val qtoks = qtokd.select($"tok").distinct()
      .withColumn("bucket", bucketCol($"tok"))
      .localCheckpoint(true)
    val qbuckets = qtoks.select($"bucket").distinct()
      .as[Long].collect().toSeq
    val qdf = rel(s, dir, snap, dfParts)
      .filter($"bucket".isin(qbuckets: _*))
      .join(broadcast(qtoks.select($"tok")), Seq("tok"), "left_semi")
      .groupBy($"tok").agg(sum($"tok_df").as("tok_df"))
    val qpref = TextOps.maxSimRarePrefix(qtokd, qdf)
      .localCheckpoint(true)
    // route: the prefix tokens' buckets become the posting scan's
    // static partition filter; tombstoned docs are masked out
    val pbuckets = qpref.select(bucketCol($"tok").as("b")).distinct()
      .as[Long].collect().toSeq
    val probed = mask(s, dir, snap,
      rel(s, dir, snap, postings).filter($"bucket".isin(pbuckets: _*)))
    val cand = qpref.select($"doc_id".as("qdoc"), $"h".as("qh"), $"tok")
      .join(probed.select($"cdoc", $"cc", $"tok"), "tok")
      .filter($"qdoc" =!= $"cdoc")
      .select($"qdoc", $"qh", $"cdoc", $"cc").distinct()
    val av = qvec.select($"doc_id".as("qdoc"), $"h".as("qh"),
      $"v".as("va"), $"n2".as("n2a"))
    val bv = mask(s, dir, snap, rel(s, dir, snap, chunks))
      .select($"cdoc", $"cc", $"vb", $"n2b")
    TextOps.maxSimScore(cand, av, bv, qmRel, k)
  }
}
