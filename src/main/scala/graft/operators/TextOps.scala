package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.TextHashes

/** Text-analysis + deduplication operators over `documents` — the
  * LLM-data-pipeline surface (BASELINE.json north star; the reference has
  * no text ops, SURVEY §2.10).
  *
  * Scale design: every per-document metric/signature is a narrow map-side
  * projection (codegen'd built-ins or a per-row Catalyst expression). The
  * only shuffles are (a) grouped aggregations over small keys and (b) the
  * LSH band-bucket join, whose input is signatures (k longs/doc), not text.
  * Exact all-pairs Jaccard (q32) uses an inverted token index — the classic
  * sparse all-pairs trick — and is restricted to a candidate subset; the
  * scale path is q33's MinHash-LSH with an exact re-check on candidates.
  */
/** Shared DuckDB macro prologue for oracles that replicate our 64-bit
  * hashing: wraparound multiply via 32-bit limbs in HUGEINT, xor/shift in
  * UBIGINT, composing to the splitmix64 finalizer (validated against the
  * JVM implementation: sm64(0) = 0xE220A8397B1DCDAF).
  */
object DuckMacros {
  val Sm64: String =
    """CREATE OR REPLACE MACRO mm64(a, b) AS
      ((a % 4294967296) * (b % 4294967296)
       + (((a % 4294967296) * (b // 4294967296)
          + (a // 4294967296) * (b % 4294967296)) % 4294967296) * 4294967296)
      % 18446744073709551616;
    CREATE OR REPLACE MACRO xsr(x, s) AS
      CAST(xor(CAST(x AS UBIGINT), CAST(x AS UBIGINT) >> s) AS HUGEINT);
    CREATE OR REPLACE MACRO sm64(x0) AS
      xsr(mm64(xsr(mm64(xsr((x0 + 11400714819323198485) % 18446744073709551616, 30),
        13787848793156543929), 27), 10723151780598845931), 31);
    """

  /** MurmurHash3 x86_32 (scala.util.hashing.MurmurHash3.bytesHash over
    * UTF-8 bytes) — the base hash of the MinHash/SimHash/winnow
    * expressions (TextHashes.tokenHash). mk32 = the k-mixing
    * (k·c1, rotl15, ·c2); mstep = one block round (h ^= mk32; rotl13;
    * h·5 + 0xe6546b64). The oracles fold mstep over 4-byte little-endian
    * blocks with list_reduce (seed prepended as the initial state), add
    * the tail block via mk32, and run the 16/13/16 finalizer inline as
    * CTE stages (a single scalar macro would duplicate subexpressions
    * exponentially). Validated bit-for-bit against the JVM for
    * empty/1–5-byte/multi-byte-UTF-8 inputs on all three seeds used.
    */
  val M32: String =
    """CREATE OR REPLACE MACRO mk32(k) AS
      (((((k::HUGEINT * 3432918353) % 4294967296) % 131072) * 32768
        + ((k::HUGEINT * 3432918353) % 4294967296) // 131072) * 461845907) % 4294967296;
    CREATE OR REPLACE MACRO mstep(h, k) AS
      ((((xor(h::UBIGINT, mk32(k)::UBIGINT)::HUGEINT) % 524288) * 8192
        + (xor(h::UBIGINT, mk32(k)::UBIGINT)::HUGEINT) // 524288) * 5 + 3864292196) % 4294967296;
    """

  /** CTE chain (no WITH): murmur32 per (tok, sd) for a relation `dtok(tok)`
    * crossed with `seeds(sd)` — ends at `m32f(tok, sd, m32)`.
    */
  val M32Chain: String =
    """m32hx AS (
       SELECT tok, sd, hex(encode(tok)) AS hh,
         length(hex(encode(tok)))//2 AS ln
       FROM dtok CROSS JOIN seeds),
     m32by AS (
       SELECT tok, sd, ln,
         list_transform(generate_series(1, ln),
           i -> ('0x'||substr(hh, i*2-1, 2))::UBIGINT::HUGEINT) AS bs
       FROM m32hx),
     m32ks AS (
       SELECT tok, sd, ln,
         list_transform(generate_series(0, ln//4 - 1),
           b -> bs[4*b+1] + bs[4*b+2]*256 + bs[4*b+3]*65536 + bs[4*b+4]*16777216) AS kl,
         CASE WHEN ln % 4 >= 1 THEN
           bs[(ln//4)*4 + 1]
           + CASE WHEN ln % 4 >= 2 THEN bs[(ln//4)*4 + 2]*256 ELSE 0 END
           + CASE WHEN ln % 4 >= 3 THEN bs[(ln//4)*4 + 3]*65536 ELSE 0 END
         ELSE 0 END AS kt
       FROM m32by),
     m32fold AS (
       SELECT tok, sd, ln, kt,
         list_reduce(list_prepend(sd::HUGEINT, kl), (h, k) -> mstep(h, k)) AS hb
       FROM m32ks),
     m32tl AS (
       SELECT tok, sd, ln,
         CASE WHEN ln % 4 >= 1
           THEN xor(hb::UBIGINT, mk32(kt)::UBIGINT)::HUGEINT ELSE hb END AS h0
       FROM m32fold),
     m32f1 AS (SELECT tok, sd, ln,
         xor(h0::UBIGINT, ln::UBIGINT)::HUGEINT AS h1 FROM m32tl),
     m32f2 AS (SELECT tok, sd,
         (xor(h1::UBIGINT, (h1 // 65536)::UBIGINT)::HUGEINT * 2246822507)
           % 4294967296 AS h2 FROM m32f1),
     m32f3 AS (SELECT tok, sd,
         (xor(h2::UBIGINT, (h2 // 8192)::UBIGINT)::HUGEINT * 3266489909)
           % 4294967296 AS h3 FROM m32f2),
     m32f AS (SELECT tok, sd,
         xor(h3::UBIGINT, (h3 // 65536)::UBIGINT)::HUGEINT AS m32 FROM m32f3)"""
}

object TextOps {

  type Q = (SparkSession, String) => DataFrame

  def defs: Map[String, Q] = Map(
    "q28_token_stats" -> ((s, d) => q28(s, d)),
    "q29_quality_score" -> ((s, d) => q29(s, d)),
    "q30_lang_stats" -> ((s, d) => q30(s, d)),
    "q31_dedup_exact" -> ((s, d) => q31(s, d)),
    "q32_ngram_jaccard" -> ((s, d) => q32(s, d)),
    "q33_minhash_lsh_pairs" -> ((s, d) => q33(s, d)),
    "q34_simhash_pairs" -> ((s, d) => q34(s, d)),
    "q35_langid" -> ((s, d) => q35(s, d)),
    "q36_winnow_fingerprints" -> ((s, d) => q36(s, d)),
    "q61_minhash_md5" -> ((s, d) => q61(s, d)),
    "q201_lsh_operating_points" -> ((s, d) => q201(s, d)),
    "q204_lsh_sampled_ceiling" -> ((s, d) => q204(s, d)),
    "q205_doremi_weights" -> ((s, d) => q205(s, d)),
    "q206_doremi_mixture" -> ((s, d) => q206(s, d)),
    "q148_split_leakage" -> ((s, d) => q148(s, d)),
    "q150_zipf_profile" -> ((s, d) => q150(s, d)),
    "q63_winnow_md5" -> ((s, d) => q63(s, d)),
    "q64_simhash_md5" -> ((s, d) => q64(s, d)),
    "q65_pipeline" -> ((s, d) => q65(s, d)),
    "q70_hash_split" -> ((s, d) => q70(s, d)),
    "q71_regex_redact" -> ((s, d) => q71(s, d)),
    "q73_seq_pack" -> ((s, d) => q73(s, d)),
    "q74_stratified_sample" -> ((s, d) => q74(s, d)),
    "q77_native_pivot" -> ((s, d) => q77(s, d)),
    "q78_bounded_topk_agg" -> ((s, d) => q78(s, d)),
    "q80_doc_chunking" -> ((s, d) => q80(s, d)),
    "q98_feature_hashing" -> ((s, d) => q98(s, d)),
    "q192_quality_train" -> ((s, d) => q192(s, d)),
    "q193_labeler_agreement" -> ((s, d) => q193(s, d)),
    "q196_auc_exact" -> ((s, d) => q196(s, d)),
    "q199_data_map" -> ((s, d) => q199(s, d)),
    "q197_reliability_table" -> ((s, d) => q197(s, d)),
    "q198_threshold_calibration" -> ((s, d) => q198(s, d)),
    "q109_unigram_surprisal" -> ((s, d) => q109(s, d)),
    "q111_inverted_index" -> ((s, d) => q111(s, d)),
    "q112_bm25_topk" -> ((s, d) => q112(s, d)),
    "q120_fuzzy_match" -> ((s, d) => q120(s, d)),
    "q134_setsim_prefix_join" -> ((s, d) => q134(s, d)),
    "q136_dup_span_coverage" -> ((s, d) => q136(s, d)),
    "q143_span_dedup_budget" -> ((s, d) => q143(s, d)),
    "q154_span_dedup_apply" -> ((s, d) => q154(s, d)),
    "q137_colloc_pairs" -> ((s, d) => q137(s, d)),
    "q138_bigram_surprisal" -> ((s, d) => q138(s, d)),
    "q144_bpe_merges" -> ((s, d) => q144(s, d)),
    "q145_bpe_segment" -> ((s, d) => q145(s, d)),
    "q146_source_divergence" -> ((s, d) => q146(s, d)),
    "q186_watermark_detect" -> ((s, d) => q186(s, d)),
    "q163_hybrid_retrieval" -> ((s, d) => q163(s, d)),
    "q178_maxsim_chunks" -> ((s, d) => q178(s, d)),
    "q209_maxsim_capped" -> ((s, d) => q209(s, d)),
    "q182_maxsim_store" -> ((s, d) => q182(s, d)),
    "q203_maxsim_store_mutated" -> ((s, d) => q203(s, d)),
    "q166_reservoir_sample" -> ((s, d) => q166(s, d)),
    "q167_kneser_ney" -> ((s, d) => q167(s, d))
  )

  /** Feature hashing (the "hashing trick"): 64-dim term-frequency vector
    * per document with md5-bucketed token→dimension assignment — the
    * model-free text featurizer that feeds the engine's own kNN/k-means/
    * ANN surface when no trained embedder is available. Counts stay raw
    * int64 (no normalization — that is a float op for the consumer), so
    * the DuckDB oracle recomputes the vectors bit-exactly; the output
    * scalarizes each vector (mm_features_int style: probe dims + l1 +
    * nnz) because the driver compare can't hash array columns.
    *
    * Scale: one codegen'd map pass — explode to (doc, dim) pairs and
    * two-phase count; the shuffle carries ≤64 rows per doc regardless of
    * document length, and the dimension space is fixed, so the relation
    * feeding downstream vector ops is corpus-size × 64 longs no matter
    * how large documents get.
    */
  private def q98(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    docs(s, d)
      .select($"doc_id", explode($"toks").as("tok"))
      .withColumn("dim",
        conv(substring(md5($"tok"), 1, 15), 16, 10).cast("long") % 64)
      .groupBy($"doc_id", $"dim").agg(count(lit(1)).as("cnt"))
      .groupBy($"doc_id")
      .agg(sum($"cnt").as("l1"),
        count(lit(1)).as("nnz"),
        sum(when($"dim" === 0, $"cnt").otherwise(0L)).as("f0"),
        sum(when($"dim" === 31, $"cnt").otherwise(0L)).as("f31"),
        sum(when($"dim" === 63, $"cnt").otherwise(0L)).as("f63"))
      .orderBy($"doc_id")
  }

  private[graft] def docs(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables(s, d, "documents").withColumn("toks", split($"text", "\\s+"))
  }

  /** In-engine quality-classifier TRAINING — the missing half of q102
    * (which only scores with fixed weights): a fastText-shaped linear
    * classifier (hashed bag-of-tokens → 32 buckets + bias) trained by
    * BATCH PERCEPTRON on a weak in-corpus label (is the document
    * English — the label every corpus carries for free), with a
    * held-out fifth (doc_id % 5 = 0) scoring generalization. The batch
    * variant is what makes the trainer an ENGINE op: each epoch's
    * update is Δw = Σ over misclassified docs of y·x — an order-free
    * integer aggregate, not per-row sequential mutation — so epochs
    * parallelize like Lloyd iterations (q147/q149) and the oracle
    * replays them exactly. Everything is int64: features are token
    * counts via the q98 md5-bucket idiom, weights start at zero (so
    * epoch 1 misclassifies everything — margin 0 counts as wrong, the
    * perceptron convention), margins are integer dots. One row per
    * epoch: train misclassification under the INCOMING weights, test
    * error under the UPDATED weights, and the updated weights' L1 mass
    * as a replayable checksum.
    *
    * Scale: the feature build is one corpus scan folding to a dense
    * 33-long array per doc (the map-from-sparse transform — no
    * doc×dim row explosion ever shuffles); each epoch is one codegen'd
    * map (the weight vector INLINED as an array literal — 33 longs,
    * the Lloyd broadcast-centroid discipline) plus a VecSum partial
    * aggregate whose only exchange carries 33-long partials per
    * partition. Driver state = 33 longs. At 100 TB the trainer is
    * 3 × (scan + bounded agg) — the same posture as q144's BPE rounds.
    */
  /** One trained epoch's bookkeeping (see [[q192]] for semantics). */
  private[graft] case class EpochRun(epoch: Long, nTrain: Long,
      nMiscl: Long, nTest: Long, nTestErr: Long, w: Array[Long])

  /** The q192 training loop, factored and SESSION-CACHED per sfDir
    * (the [[VectorOps.exactTop]] discipline): the feature relation
    * (doc_id, source, y, x) plus the three epoch snapshots and the
    * final weights' train error. q192 reports it; q199 maps every
    * training document against the snapshots.
    */
  private val perceptronCache =
    new java.util.concurrent.ConcurrentHashMap[
      String, (DataFrame, Seq[EpochRun], Long)]()

  private[graft] def marginCol(weights: Array[Long]) = expr(
    s"y * aggregate(zip_with(x, array(${weights.mkString("L, ")}L), (a, b) -> a * b), 0L, (acc, v) -> acc + v)")

  private[graft] def perceptronRun(s: SparkSession,
      d: String): (DataFrame, Seq[EpochRun], Long) =
    perceptronCache.computeIfAbsent(d, _ => {
      import s.implicits._
      // ONE codegen'd map pass: the native Md5BucketCountsExpr builds
      // the dense 33-long vector in-row (bucket = md5-h60 % 32, the
      // q98 identity the oracle replays via '0x'||substr(md5)) — the
      // explode + two token-scale groupBy shuffles of the first cut
      // are gone (sf10 A/B in BENCH_SF10's round12c note)
      val feats = docs(s, d)
        .select($"doc_id", $"source",
          when($"lang" === "en", 1L).otherwise(-1L).as("y"),
          TextHashes.md5BucketCounts($"toks", 32).as("x"))
        .localCheckpoint(true)
      val train = feats.filter($"doc_id" % 5 =!= 0)
      val test = feats.filter($"doc_id" % 5 === 0)
      var w = Array.fill(33)(0L)
      // coalesce: sum() over an EMPTY split is null, and a tiny corpus
      // can leave the held-out fifth (or the train side) empty — the
      // trainer must degrade to (0, 0), not NPE on getLong
      def errCount(df: DataFrame, weights: Array[Long]): (Long, Long) = {
        val Array(r) = df.withColumn("margin", marginCol(weights)).agg(
          count(lit(1)).as("n"),
          coalesce(sum(when($"margin" <= 0L, 1L).otherwise(0L)),
            lit(0L)).as("m")).collect()
        (r.getLong(0), r.getLong(1))
      }
      // epoch e: nMiscl measures the INCOMING weights w_{e-1}; the
      // update is the order-free batch sum over exactly those docs;
      // testErr and w describe the UPDATED w_e.
      val epochs = (1 to 3).map { epoch =>
        val scored = train.withColumn("margin", marginCol(w))
        val Array(stat) = scored.agg(
          count(lit(1)).as("n"),
          coalesce(sum(when($"margin" <= 0L, 1L).otherwise(0L)),
            lit(0L)).as("m")).collect()
        val (nTrain, nMiscl) = (stat.getLong(0), stat.getLong(1))
        val delta = scored.filter($"margin" <= 0L)
          .select(expr("transform(x, v -> v * y)").as("yx"))
          .agg(graft.functions.BoundedAggs.vecSum($"yx").as("d"))
          .collect()(0).getSeq[Long](0)
        if (delta.nonEmpty) w = w.indices.map(i => w(i) + delta(i)).toArray
        val (nTest, nTestErr) = errCount(test, w)
        EpochRun(epoch.toLong, nTrain, nMiscl, nTest, nTestErr, w)
      }
      val (_, lastTrainErr) = errCount(train, w)
      (feats, epochs, lastTrainErr)
    })

  private def q192(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val (_, epochs, lastTrainErr) = perceptronRun(s, d)
    // pocket: train error of each epoch's OUTGOING weights — w_e is
    // scored by epoch e+1's incoming count; the last needs one extra
    // pass. Ship the best (ties to the earliest epoch): the batch
    // perceptron oscillates on non-separable data, so "which weights
    // do you deploy" is part of the trainer's answer.
    val trainErrOf: Map[Long, Long] =
      epochs.sliding(2).collect { case Seq(a, b) => a.epoch -> b.nMiscl }
        .toMap + (epochs.last.epoch -> lastTrainErr)
    val pocketEpoch = epochs.map(e => (trainErrOf(e.epoch), e.epoch)).min._2
    val pe = epochs(pocketEpoch.toInt - 1)
    // permille guards: an empty split yields -1 (the suite's marker for
    // an undefined metric) instead of / by zero on a tiny corpus
    def permille(num: Long, den: Long): Long =
      if (den == 0L) -1L else num * 1000L / den
    val rows = epochs.map { e =>
      (e.epoch, e.nTrain, e.nMiscl, permille(e.nMiscl, e.nTrain),
        permille(e.nTestErr, e.nTest), e.w.map(math.abs).sum)
    } :+ ((-1L, pe.nTrain, trainErrOf(pocketEpoch),
      permille(trainErrOf(pocketEpoch), pe.nTrain),
      permille(pe.nTestErr, pe.nTest), pe.w.map(math.abs).sum))
    rows.toDF("epoch", "n_train", "n_miscl", "train_err_permille",
      "test_err_permille", "w_l1")
      .orderBy($"epoch")
  }

  /** Dataset cartography — the training-dynamics data map (the
    * "easy / ambiguous / hard" split a curation pass acts on): every
    * TRAINING document is scored under each of the three epoch weight
    * snapshots, and its confidence is how many snapshots classify it
    * correctly (margin > 0; 0..3). Easy-for-the-model regions
    * (n_correct = 3) are candidates for downsampling, never-learned
    * ones (n_correct = 0) for label audit — the integer-exact form of
    * the data-maps recipe, derived from weights the engine itself
    * trained ([[perceptronRun]], session-cached so q192 and this
    * entry share one training run). One row per (source, n_correct):
    * doc count, how many carry the positive label, and the share of
    * the source's training mass; plus the __all__ rollup.
    *
    * Scale: three margin evaluations fuse into ONE codegen'd map pass
    * over the checkpointed features (the snapshots are 33-long array
    * literals); the rollup exchange carries (source × 4) rows.
    */
  private def q199(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val (feats, epochs, _) = perceptronRun(s, d)
    val scored = feats.filter($"doc_id" % 5 =!= 0)
      .withColumn("n_correct",
        epochs.map(e => when(marginCol(e.w) > 0L, 1L).otherwise(0L))
          .reduce(_ + _))
    val cells = scored.groupBy($"source", $"n_correct")
      .agg(count(lit(1)).as("n_docs"),
        sum(when($"y" === 1L, 1L).otherwise(0L)).as("n_pos_label"))
      .localCheckpoint(true)
    val withAll = cells.unionByName(
      cells.groupBy($"n_correct")
        .agg(sum($"n_docs").as("n_docs"),
          sum($"n_pos_label").as("n_pos_label"))
        .withColumn("source", lit("__all__"))
        .select($"source", $"n_correct", $"n_docs", $"n_pos_label"))
    val totals = withAll.groupBy($"source").agg(sum($"n_docs").as("n_src"))
    withAll.join(totals, "source")
      .select($"source", $"n_correct", $"n_docs", $"n_pos_label",
        expr("(n_docs * 1000) div n_src").as("share_permille"))
      .orderBy($"source", $"n_correct")
  }

  /** Token counting: whitespace tokens + BPE-ish regex token estimate. */
  private def q28(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // n_bpeish: native single-scan expression (BpeishCountExpr) — equals
    // the regexp_count the oracle still runs, without per-row Matcher
    // cost; space removal via translate (plain char map, not regex)
    docs(s, d)
      .select($"doc_id",
        size($"toks").cast("long").as("n_tokens"),
        size(array_distinct($"toks")).cast("long").as("n_distinct"),
        graft.functions.TextHashes.bpeishCountCol($"text").as("n_bpeish"),
        round(length(translate($"text", " ", "")).cast("double") / size($"toks"), 4)
          .as("avg_tok_len"))
      .orderBy($"doc_id")
  }

  /** Quality scoring: stopword ratio + type-token ratio + keep flag. */
  private def q29(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    docs(s, d)
      .withColumn("n_tokens", size($"toks"))
      .withColumn("n_stop",
        size(expr("filter(toks, t -> t IN ('a', 'the', 'of', 'and', 'to'))")))
      .select($"doc_id",
        round($"n_stop".cast("double") / $"n_tokens", 4).as("stop_ratio"),
        round(size(array_distinct($"toks")).cast("double") / $"n_tokens", 4).as("ttr"),
        ($"n_tokens" >= 20 && $"n_tokens" <= 1000).as("keep"))
      .orderBy($"doc_id")
  }

  /** Weak-labeler AGREEMENT audit — the Snorkel-style QC step a
    * label-model pipeline runs before trusting its labeling functions:
    * three integer quality labelers (A: the Gopher word-count gate
    * 20 ≤ n_tok ≤ 1000; B: stopword density n_stop·25 ≥ n_tok — the
    * q29 ratio cross-multiplied exact; C: lexical diversity
    * n_distinct·2 ≥ n_tok) vote on every document, and each PAIR of
    * labelers is scored per source and overall with raw agreement and
    * COHEN'S KAPPA — agreement corrected for chance, the statistic
    * that exposes two labelers that "agree" only because both mostly
    * say yes. Kappa is computed as one exact integer rational:
    * κ = (n·(n11+n00) − (a1·b1 + a0·b0)) / (n² − (a1·b1 + a0·b0)),
    * permille-scaled with explicit sign handling (sign · (1000·|num|
    * div den)) so the truncation direction is engine-independent; a
    * degenerate pair (den = 0 — both marginals constant) reports 0.
    *
    * Scale: labels are ONE map pass (three integer tests per doc, no
    * joins); the contingency table folds map-side to
    * (3 pairs × sources) rows of four counters each — the only
    * exchange. Nothing scales with corpus size but the scan.
    */
  private def q193(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val lab = docs(s, d)
      .withColumn("n_tok", size($"toks").cast("long"))
      .withColumn("n_stop",
        size(expr("filter(toks, t -> t IN ('a', 'the', 'of', 'and', 'to'))"))
          .cast("long"))
      .withColumn("n_dist", size(array_distinct($"toks")).cast("long"))
      .select($"doc_id", $"source",
        ($"n_tok" >= 20L && $"n_tok" <= 1000L).cast("long").as("la"),
        ($"n_stop" * 25L >= $"n_tok").cast("long").as("lb"),
        ($"n_dist" * 2L >= $"n_tok").cast("long").as("lc"))
    val pairs = lab.select($"source", lit("A_B").as("pair"),
        $"la".as("x"), $"lb".as("y"))
      .unionByName(lab.select($"source", lit("A_C").as("pair"),
        $"la".as("x"), $"lc".as("y")))
      .unionByName(lab.select($"source", lit("B_C").as("pair"),
        $"lb".as("x"), $"lc".as("y")))
    def kappaCols(g: DataFrame): DataFrame = g
      .withColumn("n_agree", $"n11" + $"n00")
      .withColumn("pe_num",
        ($"n11" + $"n10") * ($"n11" + $"n01") +
          ($"n00" + $"n01") * ($"n00" + $"n10"))
      .withColumn("num", $"n" * $"n_agree" - $"pe_num")
      .withColumn("den", $"n" * $"n" - $"pe_num")
      .select($"pair", $"source", $"n", $"n_agree",
        expr("n_agree * 1000 div n").as("agree_permille"),
        when($"den" === 0L, 0L).otherwise(
          (when($"num" < 0L, -1L).when($"num" > 0L, 1L).otherwise(0L)) *
            expr("(1000 * abs(num)) div den")).as("kappa_permille"))
    val cells = pairs.groupBy($"pair", $"source")
      .agg(count(lit(1)).as("n"),
        sum(when($"x" === 1L && $"y" === 1L, 1L).otherwise(0L)).as("n11"),
        sum(when($"x" === 0L && $"y" === 0L, 1L).otherwise(0L)).as("n00"),
        sum(when($"x" === 1L && $"y" === 0L, 1L).otherwise(0L)).as("n10"),
        sum(when($"x" === 0L && $"y" === 1L, 1L).otherwise(0L)).as("n01"))
      .localCheckpoint(true)
    val overall = cells.groupBy($"pair")
      .agg(sum($"n").as("n"), sum($"n11").as("n11"), sum($"n00").as("n00"),
        sum($"n10").as("n10"), sum($"n01").as("n01"))
      .withColumn("source", lit("__all__"))
    kappaCols(cells.unionByName(overall.select(cells.columns.map(col).toSeq: _*)))
      .orderBy($"pair", $"source")
  }

  /** Shared eval frame for the q196–q198 model-evaluation suite: one
    * scan producing an integer score (lexical diversity permille — any
    * in-engine scorer slots in) and a binary reference label (the
    * Gopher word-count gate) per document. Scorer and label are
    * deliberately DIFFERENT signals: the suite measures how well one
    * predicts the other, which is the shape of every filter-calibration
    * question (does perplexity predict the rules? does the classifier
    * predict human labels?).
    */
  private def evalFrame(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    docs(s, d)
      .withColumn("n_tok", size($"toks").cast("long"))
      .select($"doc_id", $"source",
        expr("(CAST(size(array_distinct(toks)) AS BIGINT) * 1000) div n_tok")
          .as("score"),
        ($"n_tok" >= 20L && $"n_tok" <= 1000L).cast("long").as("y"))
  }

  /** EXACT integer AUC — the Mann-Whitney U with tie-averaged ranks,
    * kept in integers end to end: collapse to per-(source, score)
    * counts, one cumulative window gives each tie group its doubled
    * average rank (2·avgrank = 2·C + c + 1 for a group of c starting
    * after C rows), and AUC_permille = 1000·(2R₁ − n₁(n₁+1)) div
    * (2·n₁·n₀). No sampling, no float rank statistics — the number a
    * filter-calibration review actually wants, per source and overall
    * (sources where either class is empty are reported with auc = -1,
    * explicitly undefined rather than silently 500).
    *
    * Scale: ONE corpus scan collapses to (source × distinct score)
    * rows — score is permille-valued, so ≤ 1001 per source — and
    * everything after runs on that tiny relation. The overall row
    * re-aggregates the same collapsed counts, not the corpus.
    */
  private def q196(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val cnt = evalFrame(s, d)
      .groupBy($"source", $"score")
      .agg(count(lit(1)).as("c"), sum($"y").as("c_pos"))
      .localCheckpoint(true)
    val all = cnt.groupBy($"score")
      .agg(sum($"c").as("c"), sum($"c_pos").as("c_pos"))
      .withColumn("source", lit("__all__"))
      .select($"source", $"score", $"c", $"c_pos")
    def auc(g: DataFrame): DataFrame = {
      val w = Window.partitionBy($"source").orderBy($"score")
        .rowsBetween(Window.unboundedPreceding, -1)
      g.withColumn("cum", coalesce(sum($"c").over(w), lit(0L)))
        .withColumn("r2_pos", $"c_pos" * ($"cum" * 2L + $"c" + 1L))
        .groupBy($"source")
        .agg(sum($"c").as("n"), sum($"c_pos").as("n_pos"),
          sum($"r2_pos").as("r2"))
        .withColumn("n_neg", $"n" - $"n_pos")
        .select($"source", $"n", $"n_pos", $"n_neg",
          when($"n_pos" === 0L || $"n_neg" === 0L, -1L).otherwise(
            expr("(1000 * (r2 - n_pos * (n_pos + 1))) div (2 * n_pos * n_neg)"))
            .as("auc_permille"))
    }
    auc(cnt).unionByName(auc(all)).orderBy($"source")
  }

  /** Reliability table — the calibration half of the eval suite: ten
    * fixed score buckets (b = score·10 div 1001, exact on the 0..1000
    * permille range), each reporting its observed positive rate beside
    * its mean score. A monotone pos_rate column is what "the score is
    * calibrated enough to threshold" looks like; q198 then picks the
    * threshold. One scan, ten-row output, all integer.
    */
  private def q197(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    evalFrame(s, d)
      .withColumn("bucket", expr("(score * 10) div 1001"))
      .groupBy($"bucket")
      .agg(count(lit(1)).as("n"), sum($"y").as("n_pos"),
        sum($"score").as("ssum"))
      .select($"bucket", $"n", $"n_pos",
        expr("(n_pos * 1000) div n").as("pos_rate_permille"),
        expr("ssum div n").as("mean_score"))
      .orderBy($"bucket")
  }

  /** Threshold calibration — the CCNet move (choose the per-language
    * perplexity cap that keeps the bulk of good text) on the shared
    * eval frame: per source, the smallest score cap t admitting ≥ 90%
    * of label-1 documents (t = the ceil(0.9·n₁)-th smallest positive
    * score — an exact order statistic via one rank window over the
    * positives), reported with what the cap ADMITS: total kept,
    * false admits (label-0 under the cap), and admitted precision.
    * The deployment knob every scored filter ships with, stated as
    * exact integers so both engines agree on the boundary document.
    *
    * Scale: the order statistic is one rank window over the positives
    * per source (parallel across sources; k itself grows with the
    * corpus, so at extreme scale the selection swaps for a two-pass
    * log-histogram bracket — [[graft.functions.LogHistogram]]); the
    * admit counts run on the per-doc frame in one pass.
    */
  private def q198(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val base = evalFrame(s, d)
    val ef = base
      .unionByName(base.withColumn("source", lit("__all__")))
      .localCheckpoint(true)
    val nPos = ef.filter($"y" === 1L).groupBy($"source")
      .agg(count(lit(1)).as("n_pos"))
      .withColumn("k", expr("(9 * n_pos + 9) div 10"))
    val t = ef.filter($"y" === 1L)
      .withColumn("r", row_number().over(
        Window.partitionBy($"source").orderBy($"score", $"doc_id"))
        .cast("long"))
      .join(broadcast(nPos), "source")
      .filter($"r" === $"k")
      .select($"source", $"n_pos", $"k", $"score".as("threshold"))
    ef.join(broadcast(t), "source")
      .groupBy($"source", $"n_pos", $"k", $"threshold")
      .agg(sum(when($"score" <= $"threshold", 1L).otherwise(0L)).as("n_kept"),
        sum(when($"score" <= $"threshold" && $"y" === 0L, 1L).otherwise(0L))
          .as("n_false_admit"))
      .select($"source", $"n_pos", $"threshold", $"n_kept", $"n_false_admit",
        expr("((n_kept - n_false_admit) * 1000) div n_kept")
          .as("precision_permille"))
      .orderBy($"source")
  }

  /** Per-language corpus stats. */
  private def q30(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    docs(s, d)
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_docs"),
        round(avg($"n_chars"), 4).as("avg_chars"),
        round(avg(size($"toks")), 4).as("avg_tokens"),
        countDistinct($"source").as("n_sources"))
      .orderBy($"lang")
  }

  /** Exact dedup: hash-group identical texts, keep min doc_id. */
  private def q31(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables(s, d, "documents")
      .groupBy($"text")
      .agg(min($"doc_id").as("doc_id"), count(lit(1)).as("n_copies"))
      .select($"doc_id", $"n_copies", length($"text").cast("long").as("text_len"))
      .orderBy($"doc_id")
  }

  /** Exact all-pairs token-set Jaccard via inverted index (candidate
    * subset): explode distinct tokens → self-join on token → pair
    * intersection counts → Jaccard from set sizes.
    */
  private def q32(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val base = docs(s, d).filter($"doc_id" % 5 === 0)
      .select($"doc_id", array_distinct($"toks").as("set"))
    val toks = base.select($"doc_id", explode($"set").as("tok"))
    val sizes = base.select($"doc_id", size($"set").cast("long").as("sz"))
    val inter = toks.as("a")
      .join(toks.as("b"), col("a.tok") === col("b.tok") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.withColumnRenamed("doc_id", "id1").withColumnRenamed("sz", "sz1"), "id1")
      .join(sizes.withColumnRenamed("doc_id", "id2").withColumnRenamed("sz", "sz2"), "id2")
      .withColumn("jaccard", $"inter" / ($"sz1" + $"sz2" - $"inter"))
      .filter($"jaccard" > 0.8)
      .select($"id1", $"id2", round($"jaccard", 4).as("jaccard"))
      .orderBy($"id1", $"id2")
  }

  /** Exact set-similarity self-join via prefix filtering (the AllPairs /
    * PPJoin family: Bayardo et al. WWW'07, Xiao et al. WWW'08) — every
    * pair with token-set Jaccard >= 19/20, WITHOUT an all-pairs or
    * frequent-token blowup, and exact (no LSH false negatives).
    *
    * Under a global rarity order (document frequency asc, token asc), a
    * doc's PREFIX is its first `sz - ceil(19·sz/20) + 1` tokens. If
    * J(A,B) >= 19/20 then |A∩B| >= ceil(19·szA/20), which cannot fit in
    * A's suffix — so some prefix(A) token is in B. The candidate join is
    * therefore prefix(a) ⋈ all-tokens(b): only RARE tokens ever probe,
    * so the per-token candidate fan-out stays tiny where q32's
    * inverted-index join pays df² on frequent tokens. A symmetric length
    * filter (20·min(sz) >= 19·max(sz), necessary for J >= 19/20) prunes
    * inside the join; survivors are verified with an exact intersection
    * count. All thresholds are int64 cross-multiplications (τ = 19/20) —
    * bit-identical cross-engine; similarity reported as integer permille.
    * (τ is a parameter; 19/20 here because the synthetic word-salad
    * corpus is so self-similar that lower thresholds return a constant
    * fraction of ALL pairs — output size, not the algorithm, is then the
    * quadratic term.)
    *
    * Scale: shuffles are token-keyed (the probe side carries ~sz/20 of
    * each doc's tokens, rarest first) plus candidate-pair-keyed verify
    * joins on already-distinct pairs. No driver state. Complements q33:
    * MinHash-LSH stays the signature-only approximate path (k longs/doc
    * on the wire); this is the exact path when recall must be 100%.
    * Reference has no similarity join (SURVEY §2.10).
    */
  private def q134(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val base = docs(s, d)
      .select($"doc_id", array_distinct($"toks").as("set"))
      .withColumn("sz", size($"set").cast("long"))
    val toks = base.select($"doc_id", $"sz", explode($"set").as("tok"))
    // global rarity order; ties broken by the token string so both
    // engines (binary string compare) rank identically
    val rarity = toks.groupBy($"tok").agg(count(lit(1)).as("tok_df"))
    val pref = toks.join(rarity, "tok")
      .withColumn("pos", row_number().over(
        Window.partitionBy($"doc_id").orderBy($"tok_df", $"tok")))
      .filter($"pos" <= expr("sz - ((19 * sz + 19) div 20) + 1"))
      .select($"doc_id", $"sz", $"tok")
    val cand = pref.as("a")
      .join(toks.as("b"),
        col("a.tok") === col("b.tok") && col("a.doc_id") < col("b.doc_id") &&
        col("b.sz") * 20 >= col("a.sz") * 19 &&
        col("a.sz") * 20 >= col("b.sz") * 19)
      .select(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"))
      .distinct()
    val t = base.select($"doc_id", explode($"set").as("tok"))
    val inter = cand
      .join(t.as("x"), $"id1" === col("x.doc_id"))
      .join(t.as("y"), $"id2" === col("y.doc_id") && col("x.tok") === col("y.tok"))
      .groupBy($"id1", $"id2").agg(count(lit(1)).as("inter"))
    val sizes = base.select($"doc_id", $"sz")
    inter
      .join(sizes.select($"doc_id".as("id1"), $"sz".as("sz1")), "id1")
      .join(sizes.select($"doc_id".as("id2"), $"sz".as("sz2")), "id2")
      .withColumn("un", $"sz1" + $"sz2" - $"inter")
      .filter($"inter" * 20 >= $"un" * 19)
      .select($"id1", $"id2", $"inter", $"un",
        expr("(1000 * inter) div un").as("permille"))
      .orderBy($"id1", $"id2")
  }

  /** Exact-substring duplicated-span coverage (the exact-substring dedup
    * signal of Lee et al. 2022, "Deduplicating Training Data Makes
    * Language Models Better"): hash every 8-token sliding window, mark a
    * window DUPLICATED when its text occurs in ≥2 distinct documents,
    * and report each document's duplicated-window fraction. Documents
    * with ≥50% duplicated windows are the span-level-dedup candidates
    * that document-level near-dup (q33) misses — e.g. boilerplate
    * stitched into otherwise-novel text. Window identity is the first 16
    * md5 hex chars of the joined window (the q61/q63 device), so the
    * DuckDB oracle replays it bit-for-bit.
    *
    * Scale: ONE scan, NO join — windows explode map-side into a
    * map-side-combined (hash, doc_id) count, so only (16-char hash, id,
    * cnt) rows ever shuffle and text never moves; the distinct-doc
    * count per hash is then a COUNT window over partition h on that
    * pair relation, and the per-doc rollup follows. (The relational
    * alternative — a second grouped agg joined back on h — either
    * statically BROADCASTS a corpus-growing relation off a small
    * aggregate-stats estimate (observed; the q33-recheck hazard class)
    * or, SHUFFLE_HASH-hinted, re-scans and re-hashes the whole corpus
    * because column pruning breaks the exchange reuse. The window form
    * has the same skew exposure as that join's probe side — a universal
    * boilerplate hash puts its distinct-doc rows on one task either
    * way, counting only, spillable buffer; at TRUE boilerplate skew
    * the salt-split degrade path spreads the hot hash over nSeg
    * partial-count tasks and joins the per-hash rollup back — pinned
    * nSeg-invariant by SpanDupSkewSpec, and since round 9 the operator
    * picks nSeg ITSELF from a sampled hot-hash sketch
    * ([[spanAutoNSeg]]; SkewAutoSpec pins both trigger directions).)
    * The window hashes compute
    * in ONE native pass per doc (`Md5WindowPrefixExpr`: one digest +
    * buffer reused — 46.5 s → 33.1 s at sf10 vs the SQL expression
    * tree, which the oracle still runs, so the gate proves scan ==
    * SQL). A production run swaps the hex prefix for xxhash64 (8
    * bytes/window on the wire) — same plan; md5 is oracle parity.
    */
  private def q136(s: SparkSession, d: String): DataFrame =
    dupSpanCoverage(docs(s, d), spanAutoNSeg(docs(s, d)))

  /** How many position rows one window-partition task may absorb before
    * the salt-split degrade engages (the q136/q143/q154 trigger): the
    * default is a ~48 MB per-task sort budget over 24 B (hash, doc,
    * pos) rows — a 2M-row partition sorts comfortably in one task,
    * while a universal boilerplate hash at web scale exceeds it by
    * orders of magnitude. The degrade costs 1.6–1.9× on uniform
    * corpora (BENCH_SF10 span_dup_forms), so the budget errs high.
    * Deployments override per-session via
    * [[graft.plans.SkewSketch.SpanBudgetKey]].
    */
  private[graft] val SpanHotTarget = 2000000L

  /** The span-family auto-trigger ([[graft.plans.SkewSketch]]): hash a
    * seeded `fraction` of the docs — the pre-pass pays `fraction` of
    * ONE hashing pass, nothing else — and pick nSeg from the hottest
    * window hash's scaled-up multiplicity. On a uniform corpus this
    * returns 1 and the catalog keeps its pinned join-free window plan;
    * results are nSeg-invariant either way (SpanDupSkewSpec), so the
    * trigger can only change the shuffle shape, never the answer.
    * `target <= 0` (the default) reads the session's conf-backed
    * budget; a positive target is the spec-injectable override.
    */
  private[graft] def spanAutoNSeg(docsF: DataFrame,
      target: Long = -1L,
      fraction: Double = graft.plans.SkewSketch.DefaultFraction): Int = {
    val s = docsF.sparkSession
    import s.implicits._
    val budget = graft.plans.SkewSketch.budgetFor(s, target,
      graft.plans.SkewSketch.SpanBudgetKey, SpanHotTarget)
    val sampled = docsF.filter(size($"toks") >= 8)
      .sample(fraction, graft.plans.SkewSketch.DefaultSeed)
      .select(explode(TextHashes.md5WindowPrefixes($"toks", 8)).as("h"))
    graft.plans.SkewSketch.pickNSeg(
      graft.plans.SkewSketch.estimatedHotCount(sampled, $"h", fraction),
      budget)
  }

  /** q136's body over an arbitrary docs frame (doc_id, toks), with the
    * hot-hash degrade path as a parameter — same contract as
    * [[PipelineOps.adjacency]]'s nSeg. `nSeg = 1` is the catalog plan
    * (join-free window form, PlanSpec-pinned); at true boilerplate skew
    * pass `nSeg > 1` (SpanDupSkewSpec pins nSeg-invariance).
    */
  private[graft] def dupSpanCoverage(docsF: DataFrame, nSeg: Int): DataFrame = {
    val s = docsF.sparkSession
    import s.implicits._
    val pairs = docsF.filter(size($"toks") >= 8)
      .select($"doc_id",
        explode(TextHashes.md5WindowPrefixes($"toks", 8)).as("h"))
      .groupBy($"h", $"doc_id").agg(count(lit(1)).as("cnt"))
    withDistinctDocCount(pairs, nSeg)
      .groupBy($"doc_id")
      .agg(sum($"cnt").as("n_windows"),
        sum(when($"nd" >= 2, $"cnt").otherwise(0L)).as("n_dup"))
      .filter($"n_dup" * 2 >= $"n_windows")
      .select($"doc_id", $"n_windows", $"n_dup",
        expr("(1000 * n_dup) div n_windows").as("dup_permille"))
      .orderBy($"dup_permille".desc, $"doc_id")
  }

  /** Attaches the per-hash distinct-doc count `nd` to a grouped
    * (h, doc_id, cnt) pair relation — the ≥2-distinct-docs primitive
    * behind q136. `nSeg = 1`: a COUNT window over partition h — one
    * exchange, counting-only, spillable, but a window partition is
    * irreducibly ONE task, so a universal-boilerplate hash funnels its
    * whole pair set through a single task (the round-7 verdict's skew
    * flag). `nSeg > 1` — the salt-split degrade path: partial counts
    * per (h, hash(doc_id) mod nSeg) spread a hot hash across nSeg
    * tasks, roll up to ONE row per hash (≤ nSeg rows in), and LEFT-join
    * back. The join probe STREAMS (no per-partition sort or buffer),
    * and AQE's skew-join splitting can subdivide a hot probe partition
    * — something it can never do to a window partition. Branch
    * discipline (PLANS.md ReuseExchange notes): the per-salt count is
    * `sum(least(cnt, 1))` — cnt ≥ 1 always, so it equals the row count,
    * but unlike `count(cnt)` (which Catalyst rewrites to count(1) and
    * then prunes cnt away, forking the shared subtree — observed) it
    * genuinely references cnt, so both branches keep the byte-identical
    * pairs aggregate and its (h, doc_id) Exchange is materialized ONCE
    * (ReusedExchange, pinned by SpanDupSkewSpec). The join is LEFT so
    * no IsNotNull(h) is inferred into only one branch.
    */
  private[graft] def withDistinctDocCount(pairs: DataFrame, nSeg: Int): DataFrame = {
    val s = pairs.sparkSession
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    require(nSeg >= 1, s"nSeg must be positive, got $nSeg")
    if (nSeg == 1)
      pairs.withColumn("nd", count(lit(1)).over(Window.partitionBy($"h")))
    else {
      val perSalt = pairs
        .groupBy($"h", pmod(xxhash64($"doc_id"), lit(nSeg.toLong)).as("salt"))
        .agg(sum(least($"cnt", lit(1L))).as("c"))
      val perH = perSalt.groupBy($"h").agg(sum($"c").as("nd"))
      pairs.join(perH, Seq("h"), "left")
    }
  }

  /** Attaches the cross-doc duplication flag `dup` to a position-level
    * (…, doc_id, h) relation — q143's ≥2-distinct-docs test. Same
    * degrade contract as [[withDistinctDocCount]]: `nSeg = 1` computes
    * min/max doc over the h window partition (one task per hash);
    * `nSeg > 1` folds per-(h, salt) min/max MAP-SIDE (partial agg
    * before any exchange — position rows of a hot hash never gather),
    * rolls up to one boolean row per hash, and LEFT-joins back. Honest
    * cost: unlike [[withDistinctDocCount]] there is no exchange to
    * reuse (the probe consumes raw position rows that never shuffled),
    * so the flag branch re-runs the tokenize+hash scan — one extra
    * corpus pass whose output folds to (h, salt) cardinality before its
    * only exchange (the q138-class trade: an extra map-side-folded scan
    * beats forcing a position-scale exchange), in return for removing
    * the irreducible single-task hot window.
    */
  private[graft] def withCrossDocDup(w: DataFrame, nSeg: Int): DataFrame = {
    val s = w.sparkSession
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    require(nSeg >= 1, s"nSeg must be positive, got $nSeg")
    if (nSeg == 1) {
      val hw = Window.partitionBy($"h")
      w.withColumn("dup", min($"doc_id").over(hw) =!= max($"doc_id").over(hw))
    } else {
      val perSalt = w
        .groupBy($"h", pmod(xxhash64($"doc_id"), lit(nSeg.toLong)).as("salt"))
        .agg(min($"doc_id").as("mn"), max($"doc_id").as("mx"))
      val perH = perSalt.groupBy($"h")
        .agg((min($"mn") =!= max($"mx")).as("dup"))
      w.join(perH, Seq("h"), "left")
    }
  }

  /** Span-dedup token budget — q136's action-side accounting: how many
    * TOKEN positions per source are covered by a cross-doc duplicated
    * 8-token window, i.e. the token mass an exact-substring rewrite
    * (Lee et al. 2022 cut the spans, not the docs) would remove. q136
    * counts duplicated windows; overlapping windows over-count tokens,
    * so this computes the exact interval-union length per doc: with
    * duplicated window STARTS sorted, each contributes
    * `min(8, i − lag(i))` new positions (8 for the first) — the union
    * of fixed-length intervals in one lag pass, no position explosion.
    *
    * Scale: positions ride the q136 native window-hash scan; the
    * ≥2-distinct-docs test is `min(doc) ≠ max(doc)` as unbounded
    * min/max windows over the hash partition — O(1) per row, no sort,
    * no countDistinct, NO JOIN (same join-free posture as q136; the
    * hot-hash skew exposure now has the same `nSeg > 1` salt-split
    * degrade path — [[withCrossDocDup]], SpanDupSkewSpec); the union
    * pass re-keys the surviving duplicated rows by doc_id. Totals come
    * from one cheap extra documents projection (no second hashing pass).
    */
  private def q143(s: SparkSession, d: String): DataFrame =
    spanDedupBudget(docs(s, d), spanAutoNSeg(docs(s, d)))

  /** q143's body over an arbitrary docs frame (doc_id, source, toks),
    * with the hot-hash degrade path as a parameter (`nSeg = 1` is the
    * catalog plan; SpanDupSkewSpec pins nSeg-invariance on a
    * boilerplate-skewed corpus).
    */
  private[graft] def spanDedupBudget(base: DataFrame, nSeg: Int): DataFrame = {
    val s = base.sparkSession
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val w = base.filter(size($"toks") >= 8)
      .select($"doc_id", $"source",
        posexplode(TextHashes.md5WindowPrefixes($"toks", 8))
          .as(Seq("pos", "h")))
      .withColumn("i", ($"pos" + 1).cast("long"))
    val cov = withCrossDocDup(w, nSeg)
      .filter($"dup")
      .withColumn("prev", lag($"i", 1).over(
        Window.partitionBy($"doc_id").orderBy($"i")))
      .groupBy($"doc_id", $"source")
      .agg(sum(when($"prev".isNull, 8L)
        .otherwise(least(lit(8L), $"i" - $"prev"))).as("covered"))
      .groupBy($"source").agg(sum($"covered").as("cv"))
    base.groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        sum(size($"toks").cast("long")).as("n_tokens"))
      .join(cov, Seq("source"), "left")
      .withColumn("covered_tokens", coalesce($"cv", lit(0L)))
      .select($"source", $"n_docs", $"n_tokens", $"covered_tokens",
        expr("1000 * covered_tokens div n_tokens").as("removable_permille"))
      .orderBy($"source")
  }

  /** Span-dedup APPLY — the action side q143 only budgets: emit the
    * CLEANED corpus. Per doc, every token position covered by a
    * cross-doc duplicated 8-token window (the exact Lee et al. 2022
    * rewrite semantics — cut the spans, keep the doc) is stripped;
    * output is (doc_id, source, cleaned_text, n_tokens,
    * tokens_removed), and per-source sum(tokens_removed) reconciles
    * EXACTLY with q143's covered_tokens (the budget is the plan, this
    * is the execution — SpanDedupApplySpec pins the reconciliation).
    *
    * Scale: the duplicated-window detection is the SAME single
    * hash-scan shape as q143 (position rows carry only longs; the
    * ≥2-distinct-docs test has the same nSeg degrade). The rewrite
    * then needs intervals and text to MEET once: duplicated starts
    * fold to MERGED disjoint intervals first (lag + running-break
    * windows over the per-doc starts, then one struct row per merged
    * interval — a boilerplate-heavy doc yields a handful of intervals
    * no matter how many windows hit), so the join payload is compact
    * and only dup docs appear on the build side. AQE broadcasts that
    * side when the dup-doc set is small (the common case); otherwise
    * the join degrades to a doc_id-keyed exchange — the irreducible
    * rendezvous, which a doc_id-bucketed corpus makes exchange-free.
    * Text never rides a hash-keyed shuffle. The strip itself is one
    * codegen'd filter-lambda (O(intervals) per token) and the token
    * mass removed is provably the interval union q143 counted.
    */
  private def q154(s: SparkSession, d: String): DataFrame =
    spanDedupApply(docs(s, d), spanAutoNSeg(docs(s, d)))

  /** q154's body over an arbitrary docs frame (doc_id, source, toks),
    * with the hot-hash degrade parameter (same contract as
    * [[spanDedupBudget]]).
    */
  private[graft] def spanDedupApply(base: DataFrame, nSeg: Int): DataFrame = {
    val s = base.sparkSession
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val w = base.filter(size($"toks") >= 8)
      .select($"doc_id",
        posexplode(TextHashes.md5WindowPrefixes($"toks", 8))
          .as(Seq("pos", "h")))
      .withColumn("i", ($"pos" + 1).cast("long"))
    val dw = Window.partitionBy($"doc_id").orderBy($"i")
    // duplicated starts -> merged disjoint [s, e] intervals: a new
    // interval begins where the gap to the previous start exceeds the
    // window width (i - prev > 8; == 8 is adjacent and merges), so the
    // running break-count is the interval id — both window functions
    // share one sort
    val spans = withCrossDocDup(w, nSeg)
      .filter($"dup")
      .withColumn("brk",
        when($"i" - lag($"i", 1).over(dw) > 8L, 1L).otherwise(0L))
      .withColumn("grp", sum($"brk").over(
        dw.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy($"doc_id", $"grp")
      .agg(min($"i").as("s"), (max($"i") + 7L).as("e"))
      .groupBy($"doc_id")
      .agg(sort_array(collect_list(struct($"s", $"e"))).as("ivs"))
    base.join(spans, Seq("doc_id"), "left")
      .withColumn("kept", when($"ivs".isNull, $"toks").otherwise(expr(
        "filter(toks, (t, p) -> NOT exists(ivs, " +
          "iv -> p + 1 >= iv.s AND p + 1 <= iv.e))")))
      .select($"doc_id", $"source",
        // NULL text -> NULL toks -> NULL kept: the oracle emits '' for
        // that doc (coalesce over its string_agg), so match it — the
        // count columns stay NULL on both engines (len(NULL) = NULL)
        coalesce(array_join($"kept", " "), lit("")).as("cleaned_text"),
        size($"toks").cast("long").as("n_tokens"),
        (size($"toks") - size($"kept")).cast("long").as("tokens_removed"))
      .orderBy($"doc_id")
  }

  /** Collocation scan — the first iteration of a BPE-style merge search
    * at word granularity: the 30 most frequent adjacent token pairs,
    * scored with an integer PMI lift (1000·P(ab)/(P(a)·P(b)) as
    * `(1000·cnt·N) div (c_a·c_b)`, exact int64). cnt is the merge gain a
    * BPE step would realize; lift separates genuine collocations from
    * pairs that are frequent only because both halves are.
    *
    * Scale: ONE position-scale pass. Adjacent pairs explode map-side
    * and fold once into a (doc, prev, cur) partial aggregate
    * ([[pairCounts]]); every derived relation — pair counts, doc
    * frequencies, unigram counts ([[unigramCounts]]: every token is
    * `cur` of exactly one structural pair except each doc's first,
    * supplied by a doc-cardinality tokenize-only scan), the corpus
    * total — rolls that aggregate up at model cardinality through the
    * SAME reused Exchange, so the tokenize/explode scan runs ONCE
    * where the naive form ran it three times. On page-cached sf10 the
    * wall is neutral (~9.5 s either way, idle A/B vs the three-scan
    * commit) — the win is the two eliminated full tokenize passes,
    * which are the dominant cost on a real cold 100 TB scan.
    * The top-30 is a TakeOrderedAndProject over the pair relation, and
    * only those 30 rows join the unigram counts — the lift arithmetic
    * never touches the full pair distribution. Int64 width: cnt·N ≤
    * ~10¹⁸ holds up to ~10⁹-token corpora per run; past that the lift
    * ERRORS rather than silently wrapping — every graft session runs
    * ANSI arithmetic (pinned in Tables, proven by LiftOverflowSpec),
    * matching DuckDB's own BIGINT overflow error. Same enforced bound
    * as q112's idf_k operand cap; the remedy at that scale is dropping
    * the permille digit (divide cnt·N by 1000 before the lift).
    */
  private def q137(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val t = docs(s, d)
    // ReuseExchange discipline (the whole point of this shape): every
    // consumer of `pcd` must see a byte-identical subtree, or each gets
    // its own corpus scan. Three rules keep it identical: (1) pairs are
    // STRUCTURAL (positions 2..n — no BOS rows, so no consumer ever
    // filters pcd, and a pushed-down filter can't make one branch's
    // copy unique); (2) the base carries explicit IsNotNull filters so
    // join-constraint inference has nothing new to inject; (3) the lift
    // joins are LEFT joins (equal results here — every top-30 token
    // exists in uc) so no IsNotNull is inferred at all. Unigram counts
    // then need the tokens pairs miss: each doc's FIRST token comes
    // from a doc-cardinality scan (tokenize only — no explode, no
    // position shuffle), unioned under the count.
    val pcd = pairCounts(t, Seq($"doc_id"))
    // (prev, cur) rollup: BOTH the top-30 and (via a further rollup to
    // `cur`) the unigram counts read this one aggregate, so the
    // position-scale relation has exactly ONE consumer and its final
    // aggregation runs once — deriving uc from pcd directly would
    // re-run the 20M-row final agg a second time above the reused
    // exchange.
    val pairAgg = pcd
      .groupBy($"prev", $"cur")
      .agg(sum($"m").as("cnt"), count(lit(1)).as("n_docs"))
    val uc = unigramCounts(t, pairAgg.select($"cur", $"cnt".as("m")))
    val n = uc.agg(sum($"c").as("total"))
    val top = pairAgg
      .withColumn("pair", concat($"prev", lit(" "), $"cur"))
      .orderBy($"cnt".desc, $"pair").limit(30)
    top.crossJoin(broadcast(n))
      .join(uc.select($"cur".as("prev"), $"c".as("lc")), Seq("prev"), "left")
      .join(uc.select($"cur", $"c".as("rc")), Seq("cur"), "left")
      .select($"pair", $"cnt", $"n_docs",
        expr("(1000 * cnt * total) div (lc * rc)").as("lift_permille"))
      .orderBy($"cnt".desc, $"pair")
  }

  /** Zipf profile — the corpus-naturalness signal a curation pipeline
    * reads beside volume and quality scores: natural language follows
    * count ∝ rank^(-s) with s ≈ 1, so the BITS of the rank-r count
    * drop ≈ s·log2(r); machine-generated or template spam flattens or
    * cliffs the curve. Per source: the whole-bit count heights at ranks
    * 1/4/16/64/256 (rank ties broken by token string — total order,
    * engine-independent) and the integer slope in permille-bits per
    * doubling, computed from the deepest rank the source's vocabulary
    * reaches (-1 sentinels for missing ranks). Whole-bit device as in
    * q109/q146 — everything int64-exact.
    *
    * Scale: ONE (source, tok) count pass (map-side combined); the rank
    * window pre-prunes with `row_number <= 256`, which compiles to
    * WindowGroupLimit — each map task keeps 256 rows per source below
    * the exchange, so the ranking never sorts a source's full
    * vocabulary on one task (the q135 device); the totals rollup reuses
    * the same count aggregate (no pruning-divergent columns, so the
    * exchange is shared).
    */
  private def q150(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val sc = docs(s, d)
      .select($"source", explode($"toks").as("tok"))
      .groupBy($"source", $"tok").agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy($"source").orderBy($"cnt".desc, $"tok")
    def bitsAt(r: Int) = coalesce(
      max(when($"rk" === r, expr("length(bin(cnt)) - 1"))), lit(-1L))
    val prof = sc.withColumn("rk", row_number().over(w))
      .filter($"rk" <= 256)
      .groupBy($"source")
      .agg(bitsAt(1).as("b1"), bitsAt(4).as("b4"), bitsAt(16).as("b16"),
        bitsAt(64).as("b64"), bitsAt(256).as("b256"))
    val tot = sc.groupBy($"source")
      .agg(count(lit(1)).as("vocab"), sum($"cnt").as("n_tokens"))
    tot.join(prof, "source")
      .withColumn("slope_permille", expr(
        """CASE WHEN b256 >= 0 THEN (1000 * (b1 - b256)) div 8
                WHEN b64  >= 0 THEN (1000 * (b1 - b64))  div 6
                WHEN b16  >= 0 THEN (1000 * (b1 - b16))  div 4
                WHEN b4   >= 0 THEN (1000 * (b1 - b4))   div 2
                ELSE 0 END"""))
      .select($"source", $"vocab", $"n_tokens", $"b1", $"b4", $"b16",
        $"b64", $"b256", $"slope_permille")
      .orderBy($"source")
  }

  /** Shared base of q137/q138: adjacent-pair multiplicities per doc —
    * the single position-scale relation both queries fan out from.
    * Structural positions 2..n; extra grouping columns (lang, source)
    * ride along for q138. The IsNotNull filters are semantically no-ops
    * (in-range element_at of split output) present so that downstream
    * join-constraint inference cannot inject branch-unique copies.
    */
  private def pairCounts(t: DataFrame, docCols: Seq[Column]): DataFrame = {
    val s = t.sparkSession
    import s.implicits._
    rawPairs(t, docCols)
      .groupBy(docCols :+ $"prev" :+ $"cur": _*)
      .agg(count(lit(1)).as("m"))
  }

  /** The raw position-scale adjacent-pair relation (one row per
    * position 2..n) underneath [[pairCounts]].
    */
  private def rawPairs(t: DataFrame, docCols: Seq[Column]): DataFrame = {
    val s = t.sparkSession
    import s.implicits._
    t.filter(size($"toks") >= 2)
      .select(docCols :+ explode(expr(
        "transform(sequence(2, size(toks)), i -> struct(" +
          "element_at(toks, i - 1) AS prev, element_at(toks, i) AS cur))"))
        .as("w"): _*)
      .select(docCols :+ $"w.prev".as("prev") :+ $"w.cur".as("cur"): _*)
      .filter($"prev".isNotNull && $"cur".isNotNull)
  }

  /** Unigram counts completing [[pairCounts]]: every token appears
    * exactly once as `cur` of a structural pair EXCEPT each doc's first
    * token, which a doc-cardinality tokenize-only scan supplies.
    */
  private def unigramCounts(t: DataFrame, pcd: DataFrame): DataFrame = {
    val s = t.sparkSession
    import s.implicits._
    val firsts = t.filter(size($"toks") >= 1)
      .select(element_at($"toks", 1).as("cur"))
      .groupBy($"cur").agg(count(lit(1)).as("c"))
    pcd.groupBy($"cur").agg(sum($"m").as("c"))
      .unionByName(firsts)
      .groupBy($"cur").agg(sum($"c").as("c"))
  }

  /** Bigram conditional surprisal — q109's unigram model upgraded one
    * order: per position, bits(w|prev) = ⌊log₂ c(prev)⌋ − ⌊log₂
    * c(prev,w)⌋ (whole bits via the `length(bin(x))−1` device, exact
    * int64; c(prev,w) ≤ c(prev) so every term is ≥0). Reported per
    * (lang, source) next to the unigram bits on the SAME positions, plus
    * the model gain — the per-cell signal for "how much does local
    * context compress this slice", which separates templated/boilerplate
    * sources (high gain) from genuinely novel text (low gain).
    *
    * Scale: TWO corpus scans, no model-side position exchange. The
    * bigram model folds to MODEL cardinality map-side (the groupBy's
    * partial aggregate compresses each task's positions to its
    * distinct pairs before the exchange, so the exchange carries
    * ~vocab² rows per task, never positions); unigram counts and the
    * corpus total derive from that rollup plus a doc-cardinality
    * first-token scan. The scoring join runs on the raw position
    * relation: at broadcastable model sizes AQE broadcasts it and
    * positions NEVER shuffle; past broadcast range (the bigram table
    * grows to billions of types on a real corpus, unlike q109's
    * broadcast vocab) it degrades to exactly one co-partitioned
    * position shuffle, and the per-doc rollup partial-aggregates
    * map-side to doc cardinality either way.
    */
  private def q138(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val t = docs(s, d)
    // Two corpus scans by DESIGN (idle sf10 A/B): the 1-scan form that
    // shares q137's position aggregate with the scoring join forces a
    // position-scale exchange plus a repeated 20M-row final aggregation
    // and measured 14-16 s, vs 10.5 for the naive 4-scan form and 10.8
    // for this one — on page-cached input, re-scanning is cheaper than
    // exchanging positions. This form keeps the naive form's wall while
    // cutting 4 scans to 2 and bounding shuffle at scale (see below).
    // The bigram model only sees positions 2..n, which is exactly the
    // set of positions the conditional bits are defined on.
    val pairs = rawPairs(t, Seq($"doc_id", $"lang", $"source"))
    // The model side folds to MODEL cardinality map-side: the bigram
    // groupBy partial-aggregates each task's positions down to its
    // distinct (prev, cur) pairs before its exchange, so the exchange
    // carries ~vocab² rows per task, never positions. Unigram counts
    // and the corpus total derive from the bigram rollup (plus the
    // doc-cardinality first-token scan), so the position relation has
    // exactly TWO consumers — this rollup and the scoring join — and
    // the corpus is tokenized twice, with no position-scale exchange
    // on the model side at all.
    val bigram = pairs.groupBy($"prev", $"cur").agg(count(lit(1)).as("c2"))
    val uc = unigramCounts(t, bigram.select($"cur", $"c2".as("m")))
    val n = uc.agg(sum($"c").as("total"))
    // model relation carries every per-position constant: bigram count,
    // prev/cur unigram counts, and the folded whole-bit terms
    val model = bigram
      .join(uc.select($"cur".as("prev"), $"c".as("cp")), Seq("prev"), "left")
      .join(uc.select($"cur", $"c".as("cc")), Seq("cur"), "left")
      .crossJoin(broadcast(n))
      .select($"prev", $"cur",
        ((length(bin($"cp")) - 1) - (length(bin($"c2")) - 1)).cast("long")
          .as("bgb"),
        ((length(bin($"total")) - 1) - (length(bin($"cc")) - 1)).cast("long")
          .as("ugb"))
    // Scoring join on the RAW position relation: with a broadcastable
    // model (AQE decides) positions never shuffle at all; past
    // broadcast range it degrades to ONE co-partitioned position
    // shuffle — either way the per-doc rollup partial-aggregates
    // map-side to doc cardinality.
    val pd = pairs
      .join(model, Seq("prev", "cur"), "left")
      .groupBy($"doc_id", $"lang", $"source")
      .agg(sum($"bgb").as("bg_bits"), sum($"ugb").as("ug_bits"),
        count(lit(1)).as("nt"))
    pd.groupBy($"lang", $"source")
      .agg(count(lit(1)).as("n_docs"),
        expr("sum(bg_bits * 1000 div nt) div count(1)").as("bg_bits_permille"),
        expr("sum(ug_bits * 1000 div nt) div count(1)").as("ug_bits_permille"),
        expr("sum((ug_bits - bg_bits) * 1000 div nt) div count(1)")
          .as("gain_permille"))
      .orderBy($"lang", $"source")
  }

  /** Distributed BPE merge training (Sennrich et al. 2016) — the first
    * `BpeK` merges of a byte-pair-encoding tokenizer learned from the
    * corpus: start from characters (plus the standard `</w>` end-of-word
    * marker), repeatedly take the highest-count adjacent symbol pair
    * (ties broken lexicographically for determinism), merge its
    * occurrences greedily left-to-right, and recount. Output is the
    * ordered merge table — the artifact a tokenizer trainer ships.
    *
    * Scale: the ONLY corpus-scale pass is the word-count aggregation
    * (map-side combined); every merge iteration runs on the word-TYPE
    * table, whose size is Heaps-law bounded (vocab, not corpus), yet
    * stays fully distributed — pair counts are weighted by word count
    * and two-phase aggregated, the argmax is a 1-row TakeOrdered
    * broadcast back into the rewrite, and the greedy merge is a
    * codegen'd array fold per word. Iteration state is
    * `localCheckpoint`ed each round (the q81 loop rule: each round
    * references the previous twice, so uncut lineage doubles the
    * analyzed plan per iteration). Reference implementations train
    * single-node on this same word-type table; this one shards it.
    */
  private def q144(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    bpeTrain(s, d)._1.orderBy($"merge_rank")
  }

  /** BPE tokenizer APPLICATION — the segmentation report a curation
    * pipeline reads before committing to a vocab: per source, the token
    * count, the pre-merge symbol mass (characters + the `</w>` marker),
    * the post-merge symbol mass under the q144-learned table, and the
    * resulting compression permille. Sources whose text the merges
    * compress least are the out-of-domain ones.
    *
    * Scale: one corpus pass for per-(source, word) counts; the learned
    * word-type table (vocab cardinality) attaches by a word equi-join
    * carrying just the per-word symbol count, so no per-position work
    * happens at all after training.
    */
  private def q145(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val words = bpeTrain(s, d)._2
    val perSource = docs(s, d)
      .select($"source", explode($"toks").as("w"))
      .filter($"w".rlike("^[a-z]+$"))
      .groupBy($"source", $"w").agg(count(lit(1)).as("cnt"))
    perSource
      .join(words.select($"w", size($"syms").cast("long").as("n_syms"),
        (length($"w") + 1).cast("long").as("n_chars")), Seq("w"))
      .groupBy($"source")
      .agg(sum($"cnt").as("n_tokens"),
        sum($"cnt" * $"n_chars").as("n_char_symbols"),
        sum($"cnt" * $"n_syms").as("n_bpe_symbols"))
      .withColumn("compression_permille",
        expr("1000 * n_bpe_symbols div n_char_symbols"))
      .orderBy($"source")
  }

  /** Per-source divergence from the corpus — the domain-weighting signal
    * (DoReMi-style mixing reads exactly this): for each source, the
    * whole-bit cost of coding its tokens under the CORPUS unigram model
    * vs under its OWN source-conditional model, and the gap between
    * them (the exact-entropy version is the KL divergence; whole bits
    * via the `length(bin(x))-1` device keep every term int64-exact and
    * engine-independent). High-gain sources are the out-of-distribution
    * ones; near-zero gain means the source looks like the corpus.
    *
    * Scale: ONE corpus-scale pass (the (source, token) count, map-side
    * combined); the global model rolls that aggregate up and re-attaches
    * at MODEL cardinality through the same reused Exchange (the
    * q137/q138 discipline: no filters on the shared subtree, LEFT join
    * so no IsNotNull is inferred into one branch). The per-source sums
    * fold the per-token bit terms as masses — N_s·bits(N) − Σc·bits —
    * so no per-position work exists at all, and the gain is reported as
    * a raw mass (no division, sign-exact in both engines).
    */
  private def q146(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val sc = docs(s, d)
      .select($"source", explode($"toks").as("tok"))
      .groupBy($"source", $"tok").agg(count(lit(1)).as("c"))
    val g = sc.groupBy($"tok").agg(sum($"c").as("gc"))
    val n = g.agg(sum($"gc").as("n_total"))
    sc.join(g, Seq("tok"), "left")
      .groupBy($"source")
      .agg(sum($"c").as("n_tokens"),
        count(lit(1)).as("vocab"),
        sum($"c" * (length(bin($"c")) - 1).cast("long")).as("self_mass"),
        sum($"c" * (length(bin($"gc")) - 1).cast("long")).as("corpus_mass"))
      .crossJoin(broadcast(n))
      .select($"source", $"n_tokens", $"vocab",
        expr("(n_tokens * (length(bin(n_total)) - 1) - corpus_mass) * 1000" +
          " div n_tokens").as("corpus_bits_permille"),
        expr("(n_tokens * (length(bin(n_tokens)) - 1) - self_mass) * 1000" +
          " div n_tokens").as("self_bits_permille"),
        expr("(n_tokens * (length(bin(n_total)) - 1) - corpus_mass)" +
          " - (n_tokens * (length(bin(n_tokens)) - 1) - self_mass)")
          .as("gain_bits_mass"))
      .orderBy($"source")
  }

  /** DoReMi-style mixture-weight training (Xie et al. 2023's
    * Domain-Reweighting-with-Minimax shape, q144/q192's in-engine
    * discipline): iterative multiplicative-weights over per-domain
    * EXCESS LOSS, with the engine's exact whole-bit unigram costs
    * standing in for the proxy-model loss. Per round, the corpus
    * model is the MIXTURE-WEIGHTED unigram (each source's token rates
    * in 2⁻³⁰ units, weighted by the current ppm weights — so the
    * reference model moves with the weights, which is what makes the
    * loop a fixed-point iteration rather than a one-shot ranking);
    * each domain's excess = max(0, cost-under-mixture −
    * cost-under-self) in permille whole bits per token; the update is
    * integer multiplicative, w·(1024 + excess/2)/1024, renormalized
    * to ppm. [[DoremiRounds]] fixed rounds; driver state = one weight
    * vector. Out-of-distribution domains (high excess) gain weight
    * until the mixture model covers them — the DoReMi minimax
    * dynamic, integer-exact so the DuckDB oracle replays every round
    * unrolled.
    *
    * Scale: the (source, tok, c) relation builds once (one map-side
    * combined corpus pass, checkpointed); each round is one
    * vocab-scale mixture aggregation + one (source × vocab)-row cost
    * join folding to |sources| rows — 2 bounded exchanges per round,
    * nothing driver-sized but the weight vector.
    */
  private[graft] val DoremiRounds = 5
  private[graft] val DoremiScale = 1073741824L // 2^30 token-rate units

  private val doremiCache =
    new java.util.concurrent.ConcurrentHashMap[String,
      (Seq[(Long, String, Long, Long, Long)], Map[String, Long], Long)]()

  /** (per-round rows (round, source, w_ppm, excess_permille,
    * w_next_ppm), final weights by source, total corpus tokens).
    */
  /** Smooth integer log2 in PERMILLE BITS — the whole-bit
    * `length(bin())` device floors to the bit boundary, and that
    * ±1-bit quantization (up to ±1000‰ per token) swamps the ~50–100‰
    * KL signal the mixture loop feeds on (the first cut read excess 0
    * on every source and never moved a weight — recorded failure).
    * This one keeps a 10-bit mantissa with the quadratic
    * log2(1+t) ≈ t + 0.2885·t(1−t) correction: ≤ ~5‰ absolute error,
    * every step integer-exact and engine-independent (shift, div).
    * `lqSql(x)` is the Spark SQL form; the DuckDB oracle evaluates
    * the same arithmetic through the `lqt`/`lq` macros.
    */
  private def lqtSql(x: String): String =
    s"((CASE WHEN length(bin($x)) - 1 >= 10 " +
      s"THEN $x div shiftleft(cast(1 as bigint), cast(length(bin($x)) as int) - 11) " +
      s"ELSE $x * shiftleft(cast(1 as bigint), 11 - cast(length(bin($x)) as int)) END" +
      s" - 1024L) * 1000L div 1024L)"
  private[graft] def lqSql(x: String): String =
    s"(CASE WHEN $x <= 0L THEN 0L ELSE " +
      s"1000L * (length(bin($x)) - 1) + ${lqtSql(x)} + " +
      s"(${lqtSql(x)} * (1000L - ${lqtSql(x)})) div 3466L END)"

  private[graft] def logq(x: Long): Long =
    if (x <= 0L) 0L
    else {
      val b = 63L - java.lang.Long.numberOfLeadingZeros(x)
      val m10 = if (b >= 10) x >> (b - 10) else x << (10 - b)
      val tt = (m10 - 1024L) * 1000L / 1024L
      1000L * b + tt + tt * (1000L - tt) / 3466L
    }

  private[graft] def doremiRun(s: SparkSession,
      d: String): (Seq[(Long, String, Long, Long, Long)],
      Map[String, Long], Long) =
    doremiCache.computeIfAbsent(d, _ => {
      import s.implicits._
      val sc = docs(s, d)
        .select($"source", explode($"toks").as("tok"))
        .groupBy($"source", $"tok").agg(count(lit(1)).as("c"))
        .localCheckpoint(true)
      val nsRows = sc.groupBy($"source")
        .agg(sum($"c").as("n_s"),
          sum($"c" * expr(lqSql("c"))).as("selfmass"))
        .collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
      val sources = nsRows.keys.toSeq.sorted
      val totalTokens = nsRows.values.map(_._1).sum
      // permille-bits per token of coding each source under its OWN
      // unigram (round-independent)
      val selfCost: Map[String, Long] = nsRows.map { case (src, (n, sm)) =>
        src -> (n * logq(n) - sm) / n
      }
      var w: Map[String, Long] =
        sources.map(_ -> 1000000L / sources.length).toMap
      val rows = (1 to DoremiRounds).flatMap { r =>
        val wDf = sources.map(src => (src, w(src), nsRows(src)._1))
          .toDF("source", "w", "n_s")
        val mix = sc.join(broadcast(wDf), "source")
          .select($"tok",
            ($"w" * expr(s"c * ${DoremiScale}L div n_s")).as("m"))
          .groupBy($"tok").agg(sum($"m").as("m"))
        val mixtot = mix.agg(sum($"m")).collect()(0).getLong(0)
        val mixmass = sc.join(mix, "tok")
          .groupBy($"source")
          .agg(sum($"c" * expr(lqSql("m"))).as("mm"))
          .collect().map(row => row.getString(0) -> row.getLong(1)).toMap
        val excess: Map[String, Long] = sources.map { src =>
          val (n, _) = nsRows(src)
          val costMix = (n * logq(mixtot) - mixmass(src)) / n
          src -> math.max(0L, costMix - selfCost(src))
        }.toMap
        val wRaw: Map[String, Long] = sources.map(src =>
          src -> w(src) * (1024L + excess(src) / 2L) / 1024L).toMap
        val tot = wRaw.values.sum
        // floor at 1 ppm: DoReMi never zeroes a domain's support, and
        // a 0 weight would zero mix masses for its exclusive tokens
        val wNext: Map[String, Long] = sources.map(src =>
          src -> math.max(1L, wRaw(src) * 1000000L / tot)).toMap
        val out = sources.map(src =>
          (r.toLong, src, w(src), excess(src), wNext(src)))
        w = wNext
        out
      }
      (rows, w, totalTokens)
    })

  /** q206's admission rule as a REUSABLE stage — the budget gate the
    * composed release (q210) swaps in for q155's per-language greedy.
    * Over an explicit (source, doc_id, nt) frame and a (source, w_ppm,
    * budget_tokens) weight table: docs admit per source in
    * deterministic md5(doc_id) order (content-free, the q148 split
    * convention) while the token mass admitted BEFORE a doc is under
    * budget — prefix-greedy, so one doc may overshoot (the q189 rule).
    * Returns the admitted rows with their frame columns intact.
    *
    * Scale: one window cumsum per source partition; the weight table
    * is |sources| rows and broadcasts.
    */
  private[graft] def doremiAdmission(perDoc: DataFrame,
      wDf: DataFrame): DataFrame = {
    val s = perDoc.sparkSession
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    perDoc
      .withColumn("hk",
        expr("cast(conv(substring(md5(cast(doc_id as string)), 1, 15)," +
          " 16, 10) as bigint)"))
      .withColumn("cum_before",
        coalesce(sum($"nt").over(Window.partitionBy($"source")
          .orderBy($"hk", $"doc_id")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .join(broadcast(wDf), "source")
      .filter($"cum_before" < $"budget_tokens")
      .drop("hk", "cum_before")
  }

  private def q205(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val (rows, _, _) = doremiRun(s, d)
    rows.toDF("round", "source", "w_ppm", "excess_permille", "w_next_ppm")
      .orderBy($"round", $"source")
  }

  /** The mixture MATERIALIZED — the sampler q205's weights feed (the
    * composed half of the DoReMi loop, q200's
    * train-then-consume-in-engine discipline): each source's token
    * budget is its learned ppm share of the corpus token mass, and
    * docs are admitted per source in deterministic md5(doc_id) order
    * (content-free, the q148 split convention) while the tokens
    * admitted BEFORE a doc are under budget — prefix-greedy, so one
    * doc may overshoot (the q189 rule). Per source: learned weight,
    * budget, admitted doc/token mass, and fill permille.
    *
    * Scale: one window cumsum per source partition over (doc, token
    * count) rows; the weights are driver state from the shared
    * training run (session-cached — q205 and this entry train once).
    */
  private def q206(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val (_, wFinal, totalTokens) = doremiRun(s, d)
    val wDf = wFinal.toSeq.sorted.map { case (src, wp) =>
      (src, wp, wp * totalTokens / 1000000L)
    }.toDF("source", "w_ppm", "budget_tokens")
    val perDoc = docs(s, d)
      .select($"source", $"doc_id", size($"toks").cast("long").as("nt"))
    doremiAdmission(perDoc, wDf)
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs_admitted"),
        sum($"nt").as("n_tokens_admitted"))
      .join(wDf, Seq("source"), "right")
      .select($"source", $"w_ppm", $"budget_tokens",
        coalesce($"n_docs_admitted", lit(0L)).as("n_docs_admitted"),
        coalesce($"n_tokens_admitted", lit(0L)).as("n_tokens_admitted"))
      .withColumn("fill_permille",
        when($"budget_tokens" === 0L, -1L)
          .otherwise(expr("n_tokens_admitted * 1000 div budget_tokens")))
      .orderBy($"source")
  }

  /** Watermark detection (Kirchenbauer et al. 2023 shape): under a
    * green-list watermark, each generated token is biased toward the
    * "green" half of the vocabulary, where green membership is a seeded
    * hash of the PREVIOUS token — so a detector with the key counts
    * green transitions g out of m and flags documents whose one-sided
    * z-score exceeds 2 at γ = ½:  2g > m  ∧  (2g − m)² > 4m  (the
    * z > 2 test cross-multiplied into exact int64, the q83 discipline).
    * This is the training-data hygiene filter that keeps watermarked
    * model output OUT of a pretraining corpus; on unwatermarked text
    * the flag rate is the test's documented one-sided false-positive
    * mass (~2.3%), which is exactly what the driver corpus shows.
    * Green membership = md5(prev|cur|key) low-60-bit parity — the q98
    * bucket idiom, replayed verbatim by the DuckDB oracle. Docs with
    * fewer than 16 transitions are counted but not scored (the z-test
    * is meaningless on a handful of trials).
    *
    * Scale: ONE codegen'd map pass — the filter/sequence lambda hashes
    * each adjacent pair inline, no explode, no shuffle of text; the
    * only exchange is the per-source rollup (5 longs per source).
    * 100 TB posture: same plan; the md5 would be xxhash64 (parity is
    * the only bit consumed), halving hash cost.
    */
  private def q186(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val m = docs(s, d)
      .withColumn("n_tr",
        greatest(size($"toks") - 1, lit(0)).cast("long"))
      .withColumn("n_green",
        when($"n_tr" < 1L, lit(0L)).otherwise(expr(
          "CAST(size(filter(sequence(1, size(toks) - 1), i -> " +
            "CAST(conv(substring(md5(concat(element_at(toks, i), '|', " +
            "element_at(toks, i + 1), '|wm1')), 1, 15), 16, 10) AS BIGINT) " +
            "% 2 = 0)) AS BIGINT)")))
      .withColumn("scored", $"n_tr" >= 16L)
      .withColumn("flagged",
        $"scored" && lit(2L) * $"n_green" > $"n_tr" &&
          (lit(2L) * $"n_green" - $"n_tr") * (lit(2L) * $"n_green" - $"n_tr") >
            lit(4L) * $"n_tr")
    m.groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when($"scored", 1L).otherwise(0L)).as("n_scored"),
        sum(when($"flagged", 1L).otherwise(0L)).as("n_flagged"),
        sum(when($"scored", $"n_green").otherwise(0L)).as("green_mass"),
        sum(when($"scored", $"n_tr").otherwise(0L)).as("transition_mass"))
      .orderBy($"source")
  }

  /** The q144 trainer: learns [[BpeK]] merges in BATCHED rounds; returns
    * (merge table, final word-type table, rounds executed).
    *
    * Corpus-scale work is ONE word-count pass; every round then (1)
    * pair-counts the Heaps-bounded word-type table, (2) fetches the top
    * 4·[[BpeBatchM]]+1 candidates to the driver (a handful of rows), (3)
    * accepts the longest SAFE prefix via [[selectSafeBatch]] — provably
    * the exact next run of sequential BPE merges — and (4) applies the
    * accepted rules in rank order inside one projection (nested
    * [[applyMergeRule]] folds, all map-side). Batching cuts the
    * driver-iteration count from O(vocab) to O(vocab / batch): the
    * per-round data work is constant in corpus size after the first
    * pass, so driver-scheduled rounds — not data volume — bound a
    * full 32k-merge training run. Measured: the driver corpus's 8
    * merges land in 7 rounds at sf0.001 / 6 at sf0.01 (char-level
    * counts tie heavily at toy scale; Zipf-separated real-vocab counts
    * batch harder) — BpeParallelSpec pins batching + sequential
    * equality, including a corpus that batches 3 rules in round one.
    * Rules arrive as driver literals, so the per-merge
    * crossJoin(broadcast(best)) and its checkpoint job are gone too.
    */
  private[graft] def bpeTrain(s: SparkSession, d: String): (DataFrame, DataFrame, Int) =
    bpeTrainOn(docs(s, d), BpeK, BpeBatchM)

  /** [[bpeTrain]] over an arbitrary docs frame with explicit merge count
    * and batch size (batchM = 1 reproduces the strictly sequential
    * round structure — BpeParallelSpec pins batched == sequential).
    */
  private[graft] def bpeTrainOn(docsF: DataFrame, k: Int, batchM: Int)
      : (DataFrame, DataFrame, Int) = {
    val s = docsF.sparkSession
    import s.implicits._
    var words = docsF
      .select(explode($"toks").as("w"))
      .filter($"w".rlike("^[a-z]+$"))
      .groupBy($"w").agg(count(lit(1)).as("wcnt"))
      .select($"w", $"wcnt", expr(
        "concat(transform(sequence(1, length(w)), i -> substring(w, i, 1)), " +
          "array('</w>'))").as("syms"))
      .localCheckpoint(true)
    val merges = Seq.newBuilder[(Long, String, String, String, Long)]
    var learned = 0
    var rounds = 0
    while (learned < k) {
      val want = math.min(batchM, k - learned)
      // slice(…, 1, size-1) instead of sequence(1, size-1): a fully
      // collapsed word (one symbol) would make sequence(1, 0) — which
      // Spark evaluates as the DESCENDING [1, 0] — and index past the
      // array; the slice yields an empty list that explode drops
      val cands = words
        .select($"wcnt", explode(expr(
          "transform(slice(sequence(1, size(syms)), 1, size(syms) - 1), " +
            "i -> struct(" +
            "element_at(syms, i) AS l, element_at(syms, i + 1) AS r))")).as("p"))
        .groupBy($"p.l".as("l"), $"p.r".as("r"))
        .agg(sum($"wcnt").as("cnt"))
        .orderBy($"cnt".desc, $"l", $"r").limit(4 * want + 1)
        .as[(String, String, Long)].collect().toSeq
      require(cands.nonEmpty, "no adjacent pairs left to merge")
      val batch = selectSafeBatch(cands, want)
      batch.foreach { case (l, r, cnt) =>
        learned += 1
        merges += ((learned.toLong, l, r, l + r, cnt))
      }
      // Greedy left-to-right rewrite per rule, applied in rank order —
      // a merge consumes its right symbol, and the merged symbol (l||r,
      // strictly longer than l) can never chain as the left of another
      // merge of the SAME rule in the same pass (standard
      // non-overlapping semantics).
      val rewritten = batch.foldLeft(col("syms")) {
        case (acc, (l, r, _)) => applyMergeRule(acc, l, r)
      }
      words = words.select($"w", $"wcnt", rewritten.as("syms"))
        .localCheckpoint(true)
      rounds += 1
    }
    (merges.result().toDF("merge_rank", "lhs", "rhs", "merged", "pair_count"),
      words, rounds)
  }

  /** One greedy left-to-right merge application as a column fold; the
    * rule arrives as driver-side literals (symbols are [a-z]+ plus the
    * `</w>` marker and concatenations thereof — quote-free by
    * construction, asserted anyway).
    */
  private def applyMergeRule(syms: Column, l: String, r: String): Column = {
    require((l + r).matches("[a-z</>]+"), s"unexpected symbol charset: $l|$r")
    val m = l + r
    aggregate(syms, expr("cast(array() as array<string>)"),
      (out, sym) => when(
        size(out) > 0 && element_at(out, -1) === lit(l) && sym === lit(r),
        concat(slice(out, lit(1), size(out) - lit(1)), array(lit(m))))
        .otherwise(concat(out, array(sym))))
  }

  /** The exact-prefix batch selector for parallel BPE. `cands` is the
    * pair-count relation's top slice in (cnt desc, l, r) order; the
    * returned prefix applied in order is BIT-EQUAL to running that many
    * rounds of strictly sequential BPE (recount after every merge).
    *
    * Why: scan candidates in order, accepting while (a) the pair shares
    * no symbol with an accepted rule and (b) neither side equals an
    * accepted rule's merge product; STOP at the first conflicting
    * candidate. For an accepted rule at sequential step t, every
    * already-applied batch rule is symbol-disjoint and produced no
    * symbol the rule consumes, so its stale count is its TRUE count.
    * Every alternative the sequential trainer could prefer is bounded by
    * cStar — the first conflicting candidate's count (conflicting old
    * pairs only lose occurrences; a NEW pair occurrence `(x, m_i)` or
    * `(m_i, y)` maps 1:1 onto a pre-batch adjacency involving l_i or
    * r_i, i.e. onto an old CONFLICTING pair, so new-pair counts are ≤
    * cStar too). A kept rule with cnt > cStar therefore still wins its
    * step outright; rules whose count TIES cStar are trimmed (the
    * string tie-break could flip), and the leader survives untrimmed
    * because step 1 uses exact counts by definition. When the scan ends
    * without conflict, the next unexamined candidate's count bounds
    * everything unseen. If the scan instead consumed the whole slice,
    * every row was accepted — so the slice held at most m rows, came
    * back UNDER the 4m+1 fetch limit, and is therefore the complete
    * pair distribution: nothing unseen to bound, no conflicting pair
    * exists at all, counts are exactly stable across the batch's
    * sequential steps, and every accepted rule ships untrimmed
    * (trimming against the slice's own tail — the pre-round-9 behavior
    * — only shrank batches on small vocabularies, never correctness).
    */
  private[graft] def selectSafeBatch(
      cands: Seq[(String, String, Long)], m: Int): Seq[(String, String, Long)] = {
    val accepted = scala.collection.mutable.Buffer[(String, String, Long)]()
    val used = scala.collection.mutable.Set[String]()
    val produced = scala.collection.mutable.Set[String]()
    var cStar = -1L
    var stopped = false
    var idx = 0
    while (!stopped && idx < cands.length && accepted.size < m) {
      val (l, r, cnt) = cands(idx)
      if (used(l) || used(r) || produced(l) || produced(r)) {
        cStar = cnt
        stopped = true
      } else {
        accepted += ((l, r, cnt))
        used += l; used += r; produced += (l + r)
        idx += 1
      }
    }
    // no-conflict full consumption means EVERY row was accepted, so
    // cands.length <= m < the 4m+1 fetch limit — the slice is provably
    // the complete pair distribution and cStar stays unset (no trim)
    if (!stopped && idx < cands.length) cStar = cands(idx)._3
    accepted.headOption.toSeq ++ accepted.drop(1).takeWhile(_._3 > cStar)
  }

  /** Number of BPE merges q144 learns (kept small so the DuckDB oracle —
    * one generated CTE stage per merge — stays tractable; the Spark loop
    * itself is K-agnostic).
    */
  private val BpeK = 8

  /** Max merges accepted per driver round (parallel BPE); the realized
    * batch is data-dependent — [[selectSafeBatch]] only takes the prefix
    * it can prove equals sequential training.
    */
  private val BpeBatchM = 4

  /** DuckDB replay of q144: one CTE stage per merge. The greedy
    * left-to-right application is expressed relationally — candidate
    * positions, then within each run of CONSECUTIVE candidates keep the
    * even offsets (consecutive candidates only arise for l = r rules,
    * where greedy = every other occurrence; spaced candidates never
    * overlap), then rebuild each word's symbol list dropping consumed
    * right symbols. Exactly the fold q144 runs, in SQL.
    */
  private def bpeOracleSql(k: Int): String = {
    val head =
      """WITH w0 AS MATERIALIZED (
           SELECT w, CAST(count(*) AS BIGINT) AS wcnt,
             list_append(list_transform(generate_series(1, length(w)),
               i -> substring(w, i, 1)), '</w>') AS syms
           FROM (SELECT unnest(string_split_regex(text, '\s+')) AS w
                 FROM documents)
           WHERE regexp_matches(w, '^[a-z]+$')
           GROUP BY w)"""
    val stages = (1 to k).map { n =>
      val p = n - 1
      s"""
         pc$n AS MATERIALIZED (
           SELECT syms[i] AS l, syms[i + 1] AS r,
             CAST(sum(wcnt) AS BIGINT) AS cnt
           FROM (SELECT wcnt, syms,
                   unnest(generate_series(1, len(syms) - 1)) AS i FROM w$p)
           GROUP BY 1, 2),
         b$n AS MATERIALIZED (SELECT l, r, l || r AS m, cnt FROM pc$n
                 ORDER BY cnt DESC, l, r LIMIT 1),
         cand$n AS MATERIALIZED (
           SELECT w, pos FROM (
             SELECT ww.w, ww.syms,
               unnest(generate_series(1, len(ww.syms) - 1)) AS pos,
               b.l AS bl, b.r AS br
             FROM w$p ww CROSS JOIN b$n b)
           WHERE syms[pos] = bl AND syms[pos + 1] = br),
         take$n AS MATERIALIZED (
           SELECT w, pos FROM (
             SELECT w, pos, min(pos) OVER (PARTITION BY w, grp) AS rs FROM (
               SELECT w, pos,
                 pos - ROW_NUMBER() OVER (PARTITION BY w ORDER BY pos) AS grp
               FROM cand$n))
           WHERE (pos - rs) % 2 = 0),
         w$n AS MATERIALIZED (
           SELECT w, wcnt, list(sym ORDER BY pos) AS syms FROM (
             SELECT z.w, z.wcnt, z.pos,
               CASE WHEN tk.pos IS NOT NULL THEN z.m ELSE z.syms[z.pos] END
                 AS sym,
               tk2.pos IS NOT NULL AS dropped
             FROM (SELECT ww.w, ww.wcnt, ww.syms, b.m,
                     unnest(generate_series(1, len(ww.syms))) AS pos
                   FROM w$p ww CROSS JOIN b$n b) z
             LEFT JOIN take$n tk ON tk.w = z.w AND tk.pos = z.pos
             LEFT JOIN take$n tk2 ON tk2.w = z.w AND tk2.pos = z.pos - 1)
           WHERE NOT dropped
           GROUP BY w, wcnt)"""
    }
    val finals = (1 to k).map { n =>
      s"""SELECT CAST($n AS BIGINT) AS merge_rank, l AS lhs, r AS rhs,
            m AS merged, cnt AS pair_count FROM b$n"""
    }.mkString("\n         UNION ALL\n         ")
    (head +: stages).mkString(",") + "\n         " + finals +
      "\n         ORDER BY merge_rank"
  }

  /** DuckDB replay of q145: the q144 training CTE chain, then the
    * per-(source, word) counts joined to the final word-type table.
    */
  private def bpeSegmentOracleSql(k: Int): String = {
    val train = bpeOracleSql(k)
    // drop the q144 final UNION: keep WITH w0 ... w$k, then aggregate
    val prefix = train.substring(0, train.indexOf("\n         SELECT CAST(1"))
    prefix + s""",
         ps AS MATERIALIZED (
           SELECT source, w, CAST(count(*) AS BIGINT) AS cnt FROM (
             SELECT source, unnest(string_split_regex(text, '\\s+')) AS w
             FROM documents)
           WHERE regexp_matches(w, '^[a-z]+$$')
           GROUP BY 1, 2)
         SELECT source, CAST(sum(cnt) AS BIGINT) AS n_tokens,
           CAST(sum(cnt * (length(w) + 1)) AS BIGINT) AS n_char_symbols,
           CAST(sum(cnt * len(syms)) AS BIGINT) AS n_bpe_symbols,
           CAST(1000 * sum(cnt * len(syms))
                // sum(cnt * (length(w) + 1)) AS BIGINT)
             AS compression_permille
         FROM ps JOIN w$k USING (w)
         GROUP BY source ORDER BY source"""
  }

  /** MinHash + LSH banding near-dup candidates, exact-Jaccard re-checked.
    * k=32 minhashes, 8 bands × 4 rows; candidates sharing any band bucket
    * are re-checked against exact token-set Jaccard > 0.8.
    */
  private def q33(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val k = 32; val bands = 8; val rows = k / bands
    // sets are kept SORTED (once per doc) so the pair recheck can use the
    // linear-merge intersect instead of a hash set per candidate pair;
    // the shingle-1 minhash itself is order-independent
    val base = docs(s, d).filter($"doc_id" % 5 === 0)
      .select($"doc_id", array_sort(array_distinct($"toks")).as("set"))
      .withColumn("sig", TextHashes.minhashSig($"set", k, 1))
    val candIds = lshPairs(lshBanded(base, "set", bands, rows), bands)
    // The recheck intersects sorted xxhash64 TOKEN HASHES, not token
    // strings: primitive 8-byte compares in the hot merge loop and
    // 8 bytes per token on the wire. A 64-bit collision could inflate
    // one pair's Jaccard with probability ~|set|²/2⁶⁴ — the spec still
    // pins LSH ⊆ exact-string pairs (TextHashesSpec), and the hash-free
    // q61 sibling stays the oracle-exact path.
    val sets = docs(s, d).filter($"doc_id" % 5 === 0)
      .select($"doc_id",
        array_sort(expr("transform(array_distinct(toks), t -> xxhash64(t))"))
          .as("hset"))
    exactJaccardRecheck(candIds, sets)
      .select($"id1", $"id2", round($"jaccard", 4).as("jaccard"))
      .orderBy($"id1", $"id2")
  }

  /** The MinHash band fold: band b of the `sig` column folds, with its
    * index, to ONE xxhash64 long — the band array every banded MinHash
    * consumer keys on (the pair joins, q88, nearDupLshStream).
    */
  private[graft] def lshBandFold(bands: Int, rows: Int): Column =
    expr(s"transform(sequence(0, ${bands - 1}), " +
      s"b -> xxhash64(b, slice(sig, b*$rows + 1, $rows)))")

  /** The banded relation of the LSH pair joins, from a `base` carrying
    * doc_id, a token-set column `set` and its minhash signature `sig`:
    * (doc_id, sz = set size, bandarr, bidx, bandhash), one row per
    * (doc, band). Each band (index + its minhash slice) folds to ONE
    * xxhash64 long, so the self-join shuffles and compares longs — and
    * carrying the folded per-doc band ARRAY (`bands` longs, linear in
    * corpus size) lets the join emit each pair only at its FIRST shared
    * band (see [[lshPairs]]; a first-match filter over the raw k-long
    * signature slices would carry ~3× the folded array's bytes). A
    * 64-bit fold collision can only ADD a candidate, and candidates
    * are exact-rechecked downstream.
    */
  private[graft] def lshBanded(base: DataFrame, set: String, bands: Int,
      rows: Int): DataFrame =
    base.select(col("doc_id"), size(col(set)).as("sz"),
        lshBandFold(bands, rows).as("bandarr"))
      .select(col("doc_id"), col("sz"), col("bandarr"), posexplode(col("bandarr")))
      .withColumnRenamed("pos", "bidx")
      .withColumnRenamed("col", "bandhash")

  /** Size compatibility of a banded candidate pair (aliases `a`, `b`):
    * output-neutral pruning for the J > 0.8 rechecks — |A∩B| ≤ min ⇒
    * J ≤ min/max, so 5·min ≤ 4·max can never pass. Applied INSIDE the
    * join it prunes most of the candidate set before it reaches the
    * recheck attaches (the recheck, not the banding, dominates at
    * scale — measured 348k q33 candidates at sf0.1).
    */
  private[graft] def lshSizeCompatible: Column =
    lit(5) * least(col("a.sz"), col("b.sz")) >
      lit(4) * greatest(col("a.sz"), col("b.sz"))

  /** The banded pair self-join of the LSH family: (id1, id2) with
    * id1 < id2, keyed on (bidx, bandhash) exactly like the DuckDB
    * oracle's (b, bandval) candidate join, pruned by
    * [[lshSizeCompatible]], and each pair emitted ONCE, at its first
    * shared band ([[firstSharedBand]]) — so the pair relation needs no
    * `.distinct()`, which was a full exchange of the CANDIDATE-PAIR
    * mass, the one super-linear relation in the pipeline.
    */
  private[graft] def lshPairs(banded: DataFrame, bands: Int): DataFrame =
    banded.as("a")
      .join(banded.as("b").hint("merge"),
        col("a.bidx") === col("b.bidx") &&
          col("a.bandhash") === col("b.bandhash") &&
          col("a.doc_id") < col("b.doc_id") &&
          lshSizeCompatible && firstSharedBand(bands))
      .select(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"))

  /** First-shared-band predicate for the banded pair self-joins: keep a
    * match at band index `bidx` iff no band k < bidx already matched —
    * each pair is emitted exactly once, so the pair relation needs no
    * distinct exchange. Unrolled over the (compile-time, ≤8) band count
    * into a flat AND of GetArrayItem comparisons: an `exists(zip_with(
    * slice…))` formulation is CodegenFallback — interpreted per
    * GENERATED pair with two array allocations, measured 3× the whole
    * query (q33 0.9 → 3.4 s) before this unroll.
    */
  private def firstSharedBand(bands: Int) =
    (0 until bands - 1).map { k =>
      (col("a.bidx") <= k) ||
        (col("a.bandarr").getItem(k) =!= col("b.bandarr").getItem(k))
    }.reduceOption(_ && _).getOrElse(lit(true))

  /** Exact-Jaccard recheck of LSH candidate pairs: attach each side's
    * sorted token-hash set by a doc_id equi-join, linear-merge intersect,
    * keep pairs with J > 0.8. The sets relation GROWS WITH THE CORPUS, so
    * neither attach join carries a broadcast hint: they compile to
    * shuffle joins, and AQE converts to broadcast at runtime only when
    * the MEASURED build side fits autoBroadcastJoinThreshold — the
    * small-corpus fast path survives, and a 100 TB corpus can never be
    * forced into the 8 GB broadcast ceiling (a hinted broadcast here was
    * round 4's one flagged scale hazard). Both attach joins read the same
    * canonical sets subplan, so its exchange is built once and the second
    * join reuses it (ReusedExchange — alias names canonicalize away).
    */
  private[graft] def exactJaccardRecheck(candIds: DataFrame,
      sets: DataFrame): DataFrame = {
    candIds
      .join(sets.as("s1"), col("id1") === col("s1.doc_id"))
      .join(sets.as("s2"), col("id2") === col("s2.doc_id"))
      .withColumn("inter",
        TextHashes.sortedLongIntersectSize(col("s1.hset"), col("s2.hset"))
          .cast("double"))
      // sets are distinct ⇒ |A∪B| = |A|+|B|−|A∩B|
      .withColumn("uni",
        (size(col("s1.hset")) + size(col("s2.hset"))).cast("double")
          - col("inter"))
      .withColumn("jaccard", col("inter") / col("uni"))
      .filter(col("jaccard") > 0.8)
      .select(col("id1"), col("id2"), col("jaccard"))
  }

  /** SimHash near-dup pairs: 64-bit signature, 4×16-bit band blocking,
    * Hamming-distance filter on candidates.
    */
  private def q34(s: SparkSession, d: String): DataFrame =
    simhashPairs(s, d, TextHashes.simhash64(col("toks")))

  /** q34/q64's body over the %5 corpus slice, given the 64-bit
    * signature `sig` of each doc's tokens. */
  private def simhashPairs(s: SparkSession, d: String, sig: Column): DataFrame = {
    import s.implicits._
    val base = docs(s, d).filter($"doc_id" % 5 === 0)
      .select($"doc_id", sig.as("sh"))
    val banded = base.select($"doc_id", $"sh",
      posexplode(expr(
        "transform(sequence(0, 3), b -> shiftright(sh, b*16) & 65535)")))
      .select($"doc_id", $"sh", $"pos".as("band"), $"col".as("bandval"))
    banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bandval") === col("b.bandval") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"),
        col("a.sh").as("sh1"), col("b.sh").as("sh2"))
      .distinct()
      .withColumn("hamming", expr("bit_count(sh1 ^ sh2)"))
      .filter($"hamming" <= 16)
      .select($"id1", $"id2", $"hamming".cast("long").as("hamming"))
      .orderBy($"id1", $"id2")
  }

  /** Language-ID heuristic: stopword-list voting (n-gram-free variant
    * suited to whitespace languages; deterministic argmax with
    * lexicographic tiebreak).
    */
  private def q35(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    graft.functions.LangId.withScores(docs(s, d))
      .withColumn("predicted", graft.functions.LangId.vote)
      .select($"doc_id", $"lang", $"predicted")
      .orderBy($"doc_id")
  }

  /** Band count of the md5 LSH family (k=16, 4 bands × 4 rows). */
  private[graft] val Md5LshBands = 4

  /** The md5-LSH building blocks over the %5 corpus slice: `base` =
    * (doc_id, hset, sig) with sorted distinct 60-bit md5 token prefixes
    * and the k=16 minhash signature; `banded` = the [[lshBanded]]
    * relation of `base`, each 4-row band folded to one xxhash64 long.
    * Shared by the pair self-join (q61/q81/q86) and the incremental
    * new-vs-index join (PipelineOps q88).
    *
    * ONE md5 pass per token: the signature derives from hset (min over
    * the hash set == min over the token multiset) and the recheck
    * intersects hset with primitive 8-byte compares. Unlike q33's
    * xxhash64, the md5 prefix is computed IDENTICALLY by DuckDB, so the
    * hash-space Jaccard — collisions and all — is oracle-reproducible,
    * not merely collision-improbable.
    */
  private[graft] def md5LshBanded(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    import s.implicits._
    val k = 16
    // native one-pass digest+sort+dedup (TextHashes.Md5HashSetExpr) —
    // bit-identical to the SQL chain the oracle replays, ~3× cheaper
    // than hex-string conv per token
    val base = docs(s, d).filter($"doc_id" % 5 === 0)
      .select($"doc_id", TextHashes.md5HashSet($"toks").as("hset"))
      .withColumn("sig", TextHashes.minhashFromHashes($"hset", k))
    (base, lshBanded(base, "hset", Md5LshBands, k / Md5LshBands))
  }

  /** MinHash-LSH near-dup pairs with md5-derived, oracle-reproducible
    * signatures: k=16 minhashes over the token set, 4 bands × 4 rows,
    * candidates re-checked against exact Jaccard > 0.8. Same pipeline
    * shape as q33 (which uses the faster murmur hashes) but every stage
    * is recomputed independently by the DuckDB oracle. Shared with the
    * duplicate-cluster resolution step (PipelineOps q81), which runs
    * connected components over exactly these pairs.
    */
  private[graft] def md5LshScoredPairs(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val (base, banded) = md5LshBanded(s, d)
    // corpus-sized sets → shuffle-join recheck (see exactJaccardRecheck)
    exactJaccardRecheck(lshPairs(banded, Md5LshBands),
      base.select($"doc_id", $"hset"))
  }

  private def q61(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    md5LshScoredPairs(s, d)
      .select($"id1", $"id2", round($"jaccard", 4).as("jaccard"))
      .orderBy($"id1", $"id2")
  }

  /** LSH OPERATING-POINT table — q173's tuning-curve discipline applied
    * to the text-dedup side: the SAME 16-value MinHash signature banded
    * four ways ((bands, rows) = (2,8) / (4,4) / (8,2) / (16,1) — the
    * S-curve family), each configuration's candidate pairs counted and
    * scored against the VERIFIED SINGLE-MINHASH CEILING: the (16,1)
    * candidates (any shared minhash) exactly checked for Jaccard ≥ 1/2
    * (integer cross-multiplied, 2·|∩| ≥ |∪|). The ceiling is q173's
    * routing-ceiling move — a J ≥ 1/2 pair escapes all 16 hashes with
    * probability ≤ (1−J)¹⁶ ≤ 2⁻¹⁶, so the denominator bias is
    * ≤ 0.02‰ — and it is what makes the table computable at corpus
    * scale: exact verification touches only candidate pairs (the
    * banded join's output, linear in true-duplicate mass), never
    * all-pairs, which on a duplicate-heavy corpus no exact method
    * avoids (the first cut verified length-pruned all-pairs and did
    * not come back at sf10). The halving family nests ((2,8) ⊂ (4,4)
    * ⊂ (8,2) ⊂ (16,1)), so every config's hits are a subset of the
    * ceiling and the (16,1) row reads recall 1000 by construction —
    * the table's anchor row. Bands key on the RAW signature slice (no
    * extra hash), so the DuckDB oracle replays membership exactly.
    */
  private def q201(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val (nTruth, counts) = lshOperatingCounts(md5LshBanded(s, d)._1)
    counts.map { case (b, r, nCand, nHit) =>
      (b, r, nTruth, nCand, nHit,
        if (nTruth == 0L) -1L else nHit * 1000L / nTruth,
        if (nCand == 0L) -1L else nHit * 1000L / nCand)
    }.toDF("bands", "rows", "n_truth", "n_candidates", "n_hit",
      "recall_permille", "precision_permille")
      .orderBy($"bands")
  }

  /** The counts behind q201/q204 over an md5-LSH `base` (doc_id, hset,
    * sig): n_truth = the (16,1) candidates (any shared raw minhash)
    * exactly verified for J ≥ 1/2, then per banding (b, r) of the
    * halving family — (16,1) last, whose hits are the truth itself —
    * (b, r, n_candidates, n_hit). Candidate sets key on the raw
    * signature slice, are distinct and checkpointed.
    */
  private def lshOperatingCounts(base: DataFrame): (Long, Seq[(Long, Long, Long, Long)]) = {
    import base.sparkSession.implicits._
    val sized = base.select($"doc_id", $"hset", $"sig",
        size($"hset").cast("long").as("sz"))
      .localCheckpoint(true)
    def rawBandPairs(b: Int, r: Int): DataFrame = {
      val banded = sized.select($"doc_id", explode(expr(
          s"transform(sequence(0, ${b - 1}), i -> struct(i AS bidx, slice(sig, i*$r + 1, $r) AS bandval))"))
          .as("e"))
        .select($"doc_id", $"e.bidx".as("bidx"), $"e.bandval".as("bandval"))
      banded.as("a").join(banded.as("b"),
          col("a.bidx") === col("b.bidx") &&
            col("a.bandval") === col("b.bandval") &&
            col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"))
        .distinct()
        .localCheckpoint(true)
    }
    val cand161 = rawBandPairs(16, 1)
    // exact verify ONLY the ceiling candidates (shuffle-join the two
    // hash-set sides at pair cardinality — the exactJaccardRecheck
    // posture)
    val truth = cand161
      .join(sized.select($"doc_id".as("id1"), $"hset".as("h1"),
        $"sz".as("sz1")), "id1")
      .join(sized.select($"doc_id".as("id2"), $"hset".as("h2"),
        $"sz".as("sz2")), "id2")
      .withColumn("inter",
        size(array_intersect($"h1", $"h2")).cast("long"))
      .withColumn("uni", $"sz1" + $"sz2" - $"inter")
      .filter($"uni" > 0L && $"inter" * 2L >= $"uni")
      .select($"id1", $"id2")
      .localCheckpoint(true)
    val nTruth = truth.count()
    (nTruth, Seq((2, 8), (4, 4), (8, 2)).map { case (b, r) =>
      val cand = rawBandPairs(b, r)
      (b.toLong, r.toLong, cand.count(),
        cand.join(truth, Seq("id1", "id2"), "left_semi").count())
    } :+ ((16L, 1L, cand161.count(), nTruth)))
  }

  /** SAMPLED ceiling mode of the LSH operating-point audit — q201
    * with the audit universe DOC-SAMPLED: q201's exact table pays its
    * wall in the four banded self-joins AND the exact ceiling verify
    * (sf10: ~195 s, and the round-13 A/B showed candidate GENERATION,
    * not verification, is ~3/4 of it — a pair-only verify sample cut
    * just 195 -> 159 s, a recorded correction to the round-12
    * attribution). Here the %5 audit slice is further restricted to a
    * deterministic 1-in-4 md5(doc_id) subsample (the q148 bucket
    * convention — membership replayed exactly by DuckDB, no RNG), so
    * every downstream join shrinks ~16x in pair mass and EVERY
    * surviving (16,1) candidate is exactly verified — the counts are
    * exact statements about the subuniverse. Reported per banding:
    * the subuniverse candidate/truth/hit counts, the quadratic
    * truth-mass extrapolation (x16 — exact in expectation when a
    * pair's endpoints land in the sample independently; duplicate
    * CLUSTERS correlate endpoints, the documented caveat), each
    * config's recall estimate vs the subuniverse ceiling, and a 95%
    * normal-approximation half-width on that recall (computed with
    * the IDENTICAL double expression in both engines). At p̂ ∈ {0, 1}
    * the normal half-width degenerates to 0 — read such a row as "no
    * miss observed among n_truth_sample" (rule-of-three upper bound
    * ≈ 3000/n ‰), not as an exact claim about the full corpus. The
    * exact mode (q201) stays the release gate; this is the routine
    * refresh.
    */
  private def q204(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val (tS, counts) = lshOperatingCounts(md5LshBanded(s, d)._1
      .filter(expr(
        "cast(conv(substring(md5(cast(doc_id as string)), 1, 15)," +
          " 16, 10) as bigint) % 4") === 0L))
    val truthEst = tS * 16L
    // 95% half-width on each config's recall estimate, permille — the
    // SAME double expression tree the oracle evaluates
    def ci(h: Long): Long =
      if (tS == 0L) -1L
      else math.floor(1960.0 *
        math.sqrt(h.toDouble * (tS - h) / tS) / tS).toLong
    counts.map { case (b, r, nCand, nHit) =>
      (b, r, nCand, tS, nHit, truthEst,
        if (tS == 0L) -1L else nHit * 1000L / tS, ci(nHit))
    }.toDF("bands", "rows", "n_candidates", "n_truth_sample",
      "n_hit_sample", "truth_est", "recall_est_permille",
      "ci_halfwidth_permille")
      .orderBy($"bands")
  }

  /** Train/val/test split + near-dup leakage audit — the split-hygiene
    * check a pre-training pipeline runs before committing a split: docs
    * are assigned 90/5/5 by a deterministic content-free hash of their
    * id, and every near-dup pair (the md5-LSH dedup family's J > 0.8
    * relation, q61's corpus slice) is classified by the split sides it
    * straddles. A train↔val/test pair is LEAKAGE — the eval metric
    * would partially score memorization; within-split pairs are the
    * ordinary dedup backlog. Output is the full 6-cell split-pair
    * matrix with split sizes, so a zero-leak result is a visible row,
    * not an absent one.
    *
    * Scale: the pair relation is the q33/q61 banded LSH join (never
    * all-pairs); split assignment is one md5 per doc id, map-side; the
    * classification attaches two id-keyed (doc_id, split) lookups at
    * PAIR cardinality, and the matrix rollup is six rows.
    */
  private def q148(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val splits = Tables(s, d, "documents").filter($"doc_id" % 5 === 0)
      .select($"doc_id", expr(
        "cast(conv(substring(md5(cast(doc_id as string)), 1, 15), 16, 10)" +
          " as bigint) % 100").as("bucket"))
      .select($"doc_id",
        when($"bucket" < 90, "train").when($"bucket" < 95, "val")
          .otherwise("test").as("part"))
    val combos = Seq(("train", "train"), ("train", "val"), ("train", "test"),
      ("val", "val"), ("val", "test"), ("test", "test"))
      .toDF("split_a", "split_b")
    def rankOf(c: String) =
      expr(s"CASE $c WHEN 'train' THEN 0 WHEN 'val' THEN 1 ELSE 2 END")
    val cls = md5LshScoredPairs(s, d).select($"id1", $"id2")
      .join(splits.select($"doc_id".as("id1"), $"part".as("p1")), "id1")
      .join(splits.select($"doc_id".as("id2"), $"part".as("p2")), "id2")
      .withColumn("r1", rankOf("p1")).withColumn("r2", rankOf("p2"))
      .select(when($"r1" <= $"r2", $"p1").otherwise($"p2").as("split_a"),
        when($"r1" <= $"r2", $"p2").otherwise($"p1").as("split_b"))
    val counts = cls.groupBy($"split_a", $"split_b")
      .agg(count(lit(1)).as("np"))
    val sizes = splits.groupBy($"part").agg(count(lit(1)).as("nd"))
    combos
      .join(counts, Seq("split_a", "split_b"), "left")
      .join(sizes.select($"part".as("split_a"), $"nd".as("nda")),
        Seq("split_a"), "left")
      .join(sizes.select($"part".as("split_b"), $"nd".as("ndb")),
        Seq("split_b"), "left")
      .select($"split_a", $"split_b",
        coalesce($"nda", lit(0L)).as("n_docs_a"),
        coalesce($"ndb", lit(0L)).as("n_docs_b"),
        coalesce($"np", lit(0L)).as("n_pairs"),
        ($"split_a" =!= $"split_b").as("is_leak"))
      .orderBy(rankOf("split_a"), rankOf("split_b"))
  }

  /** Winnowed rolling-hash document fingerprints (window 4). */
  private def q36(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    docs(s, d)
      .select($"doc_id", TextHashes.winnowFingerprints($"toks", 4).as("fps"))
      .select($"doc_id", size($"fps").cast("long").as("n_fp"),
        array_min($"fps").as("min_fp"), array_max($"fps").as("max_fp"))
      .orderBy($"doc_id")
  }

  /** q36's oracle-reproducible sibling: winnow fingerprints over md5
    * token hashes (window 4), summarized as count/min/max.
    */
  private def q63(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    docs(s, d)
      .select($"doc_id", TextHashes.md5Winnow($"toks", 4).as("fps"))
      .select($"doc_id", size($"fps").cast("long").as("n_fp"),
        array_min($"fps").as("min_fp"), array_max($"fps").as("max_fp"))
      .orderBy($"doc_id")
  }

  /** q34's oracle-reproducible sibling: md5-based 64-bit simhash,
    * 4×16-bit band blocking, Hamming ≤ 16 on candidates.
    */
  private def q64(s: SparkSession, d: String): DataFrame =
    simhashPairs(s, d, TextHashes.md5Simhash64(col("toks")))

  /** The LLM ingestion pipeline END-TO-END as one composed query:
    * exact dedup (keep min doc_id per text) → quality filter (token
    * count in [20, 1000]) → language-ID (stopword argmax, q35 logic) →
    * per-language corpus stats. Demonstrates that the catalog's stages
    * compose into the actual production pipeline shape — dedup and the
    * final stats are the only shuffles; filter+langid stay map-side.
    */
  private def q65(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val deduped = Tables(s, d, "documents")
      .groupBy($"text")
      .agg(min($"doc_id").as("doc_id"))
      .withColumn("toks", split($"text", "\\s+"))
      .withColumn("n_tokens", size($"toks"))
      .filter($"n_tokens".between(20, 1000))
    graft.functions.LangId.withScores(deduped)
      .withColumn("predicted", graft.functions.LangId.vote)
      .groupBy($"predicted")
      .agg(count(lit(1)).as("n_docs"),
        sum($"n_tokens").as("sum_tokens"),
        round(avg($"n_tokens"), 4).as("avg_tokens"))
      .orderBy($"predicted")
  }

  /** Deterministic train/val/test split — the training-data-pipeline
    * assignment op. The split is a pure function of the stable doc id
    * (md5, 60-bit prefix → bucket mod 100: 80/10/10), so it is
    * reproducible across runs, engines, and resharding — never
    * rand()-based, which would re-deal membership every execution.
    * One map pass + one tiny aggregation; at 100 TB the split column is
    * a cheap projection feeding a partitioned write.
    */
  private def q70(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val bucket = conv(substring(md5($"doc_id".cast("string")), 1, 15), 16, 10)
      .cast("long") % 100
    Tables(s, d, "documents")
      .withColumn("split",
        when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test"))
      .groupBy($"split")
      .agg(count(lit(1)).as("n_docs"),
        min($"doc_id").as("min_id"), max($"doc_id").as("max_id"))
      .orderBy($"split")
  }

  /** Sequence packing — the training-data op that bins documents into
    * fixed-token-budget packed sequences (greedy, in stable doc_id order:
    * bin = global-tokens-before div budget). The global prefix sum is
    * computed as a distributed TWO-PHASE scan, not one giant window: a
    * per-bucket window (parallel, partitioned by doc_id div 100), plus a
    * bucket-offset table (one row per bucket) cumulated on the driver-size
    * side and broadcast back. A naive `Window.orderBy(doc_id)` with no
    * partitioning would pull the whole corpus through ONE task — the
    * classic 100 TB cliff this formulation avoids.
    */
  private def q73(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val budget = 4096L
    val toks = Tables(s, d, "documents")
      .select($"doc_id", size(split($"text", "\\s+")).cast("long").as("n_tok"))
      .withColumn("b", expr("doc_id div 100"))
    val wIn = Window.partitionBy($"b").orderBy($"doc_id")
    val within = toks.withColumn("cum_in", sum($"n_tok").over(wIn))
    // one row per bucket: the tiny global window is over buckets, not docs
    val wOff = Window.orderBy($"b").rowsBetween(Window.unboundedPreceding, -1)
    val offsets = toks.groupBy($"b").agg(sum($"n_tok").as("btot"))
      .withColumn("off", coalesce(sum($"btot").over(wOff), lit(0L)))
      .select($"b", $"off")
    within.join(broadcast(offsets), "b")
      .withColumn("cum_before", $"off" + $"cum_in" - $"n_tok")
      .withColumn("bin", expr(s"cum_before div $budget"))
      .groupBy($"bin")
      .agg(count(lit(1)).as("n_docs"), sum($"n_tok").as("sum_tokens"))
      .orderBy($"bin")
  }

  /** Stratified sampling stats — per-stratum deterministic downsampling
    * (rate by language: 10% for the dominant 'en', 50% elsewhere — the
    * rebalancing move every corpus-mixing pipeline makes). Membership is
    * a pure function of the doc id (same md5-bucket rule as the q70
    * split), so the sample is reproducible and resharding-stable, unlike
    * rand()-based TABLESAMPLE which re-deals every run.
    */
  private def q74(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val bucket = conv(substring(md5($"doc_id".cast("string")), 1, 15), 16, 10)
      .cast("long") % 100
    Tables(s, d, "documents")
      .withColumn("b", bucket)
      .withColumn("rate", when($"lang" === "en", lit(10)).otherwise(lit(50)))
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_total"),
        sum(when($"b" < $"rate", 1L).otherwise(0L)).as("n_kept"))
      .orderBy($"lang")
  }

  /** Native pivot: lang × source document-count matrix via the
    * `.pivot(col, values)` API (explicit value list → deterministic
    * columns and a single pass; without the list Spark runs an extra
    * distinct job to discover them).
    */
  private def q77(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val sources = (0 until 20).map(i => s"src$i")
    Tables(s, d, "documents")
      .groupBy($"lang")
      .pivot("source", sources)
      .count()
      .na.fill(0L)
      .orderBy($"lang")
  }

  /** Bounded-state typed aggregation: the 5 smallest doc ids per language
    * via a custom `Aggregator[Long, Buf, String]`
    * (functions.BoundedAggs.kSmallest) — O(k) state per group with
    * associative partial merges (map-side combined), vs the window-rank
    * formulation that sorts every row per group.
    */
  private def q78(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables(s, d, "documents")
      .groupBy($"lang")
      .agg(graft.functions.BoundedAggs.kSmallest($"doc_id", 5).as("smallest"),
        count(lit(1)).as("n_docs"))
      .orderBy($"lang")
  }

  /** Document chunking — fixed-size token windows with overlap (chunk 64,
    * stride 48), the context-window preprocessing step for training/RAG
    * pipelines. A bounded explode per document (ceil(n/stride) chunks),
    * all arithmetic in exact integers; the chunk text itself would be a
    * `slice(toks, s+1, 64)` projection — omitted here so the verified
    * output stays scalar.
    */
  private def q80(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val chunk = 64L; val stride = 48L
    Tables(s, d, "documents")
      .select($"doc_id", size(split($"text", "\\s+")).cast("long").as("n_tok"))
      .filter($"n_tok" > 0)
      .select($"doc_id", $"n_tok",
        explode(sequence(lit(0L), $"n_tok" - 1, lit(stride))).as("start"))
      .select($"doc_id", expr(s"start div $stride").as("chunk_id"),
        least(lit(chunk), $"n_tok" - $"start").as("chunk_len"))
      .orderBy($"doc_id", $"chunk_id")
  }

  /** Regex scrubbing stats — the PII-redaction pipeline shape: count
    * pattern matches per corpus slice and measure the redacted output
    * size. The pattern here is a token class present in the synthetic
    * corpus; a production run swaps in email/phone/ssn patterns — the
    * plan (per-row regex in one codegen'd map pass, tiny aggregate) is
    * identical.
    */
  private def q71(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val pat = "ta[a-z]+"
    Tables(s, d, "documents")
      .withColumn("n_matches", size(regexp_extract_all($"text", lit(pat), lit(0))))
      .withColumn("redacted", regexp_replace($"text", pat, "<X>"))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        sum($"n_matches").as("n_matches"),
        sum(length($"redacted")).as("redacted_chars"))
      .orderBy($"source")
  }

  /** Unigram-LM surprisal scoring — the CCNet/RedPajama "perplexity
    * filter" shape: fit a unigram model on the corpus itself, score every
    * document by average per-token surprisal, and flag documents whose
    * score exceeds 1.2× the corpus mean (boilerplate and gibberish both
    * surface as outliers). Surprisal is integerized as whole bits —
    * `floor(log2 N) - floor(log2 count)` via the `length(bin(x)) - 1`
    * trick (same cross-engine-exact device as q96), so every value is
    * int64 and the oracle replays the model bit-for-bit; a production
    * variant swaps in fractional bits (or a trained KenLM) without
    * changing the plan shape.
    *
    * Scale: the model build is word-count (map-side combined, shuffles
    * only distinct tokens); the vocabulary is broadcast back (unigram
    * vocab grows ~O(corpus^0.5) — Heaps' law — and stays broadcastable
    * when the corpus does not), so the scoring pass is join-free on the
    * corpus side: one codegen'd map + a per-document aggregation that
    * shuffles (doc_id, bits) pairs, never text.
    */
  private def q109(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val toks = Tables(s, d, "documents")
      .select($"doc_id", $"lang", $"source",
        explode(split($"text", "\\s+")).as("tok"))
    val model = toks.groupBy($"tok").agg(count(lit(1)).as("cnt"))
    val total = model.agg(sum($"cnt").as("n_total"))
    val perDoc = toks.join(broadcast(model), "tok")
      .crossJoin(broadcast(total))
      .withColumn("bits",
        ((length(bin($"n_total")) - 1) - (length(bin($"cnt")) - 1)).cast("long"))
      .groupBy($"doc_id", $"lang", $"source")
      .agg(sum($"bits").as("sb"), count(lit(1)).as("nt"))
      .withColumn("permille", expr("sb * 1000 div nt"))
    val corpus = perDoc.agg(expr("sum(sb) * 1000 div sum(nt)").as("cp"))
    perDoc.crossJoin(broadcast(corpus))
      .groupBy($"lang", $"source")
      .agg(count(lit(1)).as("n_docs"),
        expr("sum(permille) div count(1)").as("avg_bits_permille"),
        max($"permille").as("max_bits_permille"),
        sum(when($"permille" * 10 > $"cp" * 12, 1L).otherwise(0L))
          .as("n_flagged"))
      .orderBy($"lang", $"source")
  }

  /** Inverted-index build — token → (document frequency, total term
    * frequency, first-k posting list). The index artifact behind both
    * classic retrieval (BM25 candidates for a RAG pipeline) and corpus
    * inspection ("which documents contain this token"). Postings are
    * emitted as a comma-joined string of the first 20 doc_ids so the
    * result stays scalar-typed for the cross-engine compare.
    *
    * Scale: the (token, doc_id) pair relation is aggregated FIRST
    * (map-side combined count → per-doc tf), then the posting list is
    * row_number-truncated to k BEFORE collect_list, so aggregation
    * state is O(k) per token — a hot stopword at 100 TB contributes 20
    * postings, not a billion. df/tf ride the same pair relation; text
    * itself never shuffles.
    */
  private def q111(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val pairs = Tables(s, d, "documents")
      .select($"doc_id", explode(split($"text", "\\s+")).as("tok"))
      .groupBy($"tok", $"doc_id").agg(count(lit(1)).as("tfd"))
    val stats = pairs.groupBy($"tok")
      .agg(count(lit(1)).as("df"), sum($"tfd").as("tf"))
    val postings = pairs
      .withColumn("rn", row_number().over(
        Window.partitionBy($"tok").orderBy($"doc_id")))
      .filter($"rn" <= 20)
      .groupBy($"tok")
      .agg(array_join(expr(
        "transform(array_sort(collect_list(doc_id)), x -> cast(x AS STRING))"),
        ",").as("postings"))
    stats.join(postings, "tok")
      .orderBy($"df".desc, $"tok")
      .limit(50)
  }

  /** BM25 top-k retrieval — the ranked-retrieval query over the q111
    * index shape (BM25 is the default lexical scorer behind RAG candidate
    * generation and classic search). The query is the corpus's 3
    * highest-df terms (deterministic tiebreak), so the whole pipeline is
    * self-contained and cross-engine reproducible. Scoring is BM25 with
    * k1 = 6/5 and b = 3/4 expressed in EXACT int64 arithmetic: with
    * `avg` the permille-scaled mean doc length and `idf_k = (1000·N) div
    * df`, each term contributes
    * `(idf_k · 44 · avg · tf) div (20·avg·tf + 6·avg + 18·len·1000)` —
    * the k1/b rationals cross-multiplied into one floor division, so
    * Spark and DuckDB rank identically (a float BM25 would tie-break on
    * summation noise). idf is the quantized-ratio device from q84; at
    * extreme N/df ratios the cross-product can exceed int64 — not hit
    * by query terms (high-df by construction), and ENFORCED rather than
    * remembered: ANSI arithmetic (pinned in Tables) makes an overflow
    * error out loudly, same as DuckDB (LiftOverflowSpec proves the
    * failure mode on this exact expression shape).
    *
    * Scale: tf/df/len relations derive from one (tok, doc_id) pair
    * aggregation (map-side combined); the 3-term query relation
    * broadcasts; the per-doc score aggregation shuffles only matching
    * (doc_id, term_score) pairs — candidate docs, not the corpus; top-k
    * is TakeOrderedAndProject. This is the "query serving" half the
    * index (q111) exists for.
    */
  private def q112(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val toks = Tables(s, d, "documents")
      .select($"doc_id", explode(split($"text", "\\s+")).as("tok"))
    val dl = toks.groupBy($"doc_id").agg(count(lit(1)).as("len"))
    val nAvg = dl.agg(count(lit(1)).as("n_docs"),
      expr("sum(len) * 1000 div count(1)").as("avg_mil"))
    val pairs = toks.groupBy($"tok", $"doc_id").agg(count(lit(1)).as("tf"))
    val qterms = pairs.groupBy($"tok").agg(count(lit(1)).as("df"))
      .orderBy($"df".desc, $"tok").limit(3)
      .crossJoin(broadcast(nAvg))
      .withColumn("idf_k", expr("(1000 * n_docs) div df"))
      .select($"tok", $"idf_k", $"avg_mil")
    pairs.join(broadcast(qterms), "tok")
      .join(dl, "doc_id")
      .withColumn("term_score", expr(
        """(idf_k * 44 * avg_mil * tf)
           div (20 * avg_mil * tf + 6 * avg_mil + 18 * len * 1000)"""))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_terms"), sum($"term_score").as("score"))
      .orderBy($"score".desc, $"doc_id")
      .limit(10)
  }

  /** Fuzzy matching by edit distance — the entity-resolution /
    * benchmark-title-matching shape: a small probe list (here: corrupted
    * 18-char document prefixes, deterministic mutation) matched against
    * every document's prefix key by Levenshtein ≤ 4, reporting match
    * counts, the best distance, and the (dist, doc_id)-argmin document.
    * Levenshtein's unit-cost DP is engine-independent integer output, so
    * the oracle compares exactly — the device that makes fuzzy matching
    * gate-able where embedding similarity needs tolerance.
    *
    * Scale: probes broadcast (fuzzy probe lists are small by nature);
    * the distance computation is one codegen'd map pass over the corpus
    * keys; per-probe aggregation shuffles only (probe, dist) pairs. An
    * indexed variant (q33's LSH bands on character shingles) replaces
    * the linear scan when the probe list itself is large.
    */
  private def q120(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val keys = Tables(s, d, "documents")
      .select($"doc_id", substring($"text", 1, 20).as("k"))
    val probes = keys.filter($"doc_id" % 401 === 0)
      .select($"doc_id".as("probe_id"),
        concat(substring($"k", 1, 18), lit("zz")).as("probe"))
    keys.crossJoin(broadcast(probes))
      .withColumn("dist", levenshtein($"k", $"probe"))
      .filter($"dist" <= 4)
      .groupBy($"probe_id")
      .agg(count(lit(1)).as("n_within"),
        min($"dist").as("best_dist"),
        min(struct($"dist", $"doc_id")).as("bm"))
      .select($"probe_id", $"n_within", $"best_dist",
        $"bm.doc_id".as("best_doc"))
      .orderBy($"probe_id")
  }

  /** Hybrid sparse+dense retrieval with Reciprocal Rank Fusion — the
    * candidate-generation shape behind modern RAG / retrieval pipelines:
    * a lexical (BM25) ranker and an embedding (exact int64-L2) ranker
    * each produce a top-20 for the same query, and the lists fuse by
    * RRF — `Σ 1000000 div (60 + rank)` per system, the standard K=60
    * constant in exact integer space so both engines rank identically.
    * Queries are "more-like-this": every embedded document on the %100
    * grid retrieves its neighbors; the sparse query is the doc's 5
    * RAREST shared terms (df ≥ 2, ties by token — the classic
    * more-like-this term selection, and the choice that keeps posting
    * lists small), scored with q112's exact-rational BM25 with one
    * addition: `idf_k` saturates at 1e6 (the Lucene-style idf cap),
    * which also bounds every score below 2^53 so ranks are exact in
    * either arithmetic. The dense ranker is the exact brute force here
    * (the oracle needs a replayable reference); in deployment it is the
    * pluggable slot the IVF/PQ store's `serve`/`servePq` fills — both
    * produce the same (query, neighbor, rank) relation probe-pruned.
    * Output: fused top-10 per query with each system's rank (0 = not
    * retrieved by that system), all int64.
    *
    * Scale: sparse candidates are the union of 5 rare-term posting
    * lists per query — rare terms ⇒ short lists, and the per-query
    * window sorts only those candidates; tf/df/len derive from one
    * map-side-combined (tok, doc) aggregation; the dense side folds its
    * |queries|×corpus scored pairs map-side through the bounded top-k
    * aggregator (O(k) state, no window over the cross). The fusion join
    * touches ≤ 40 rows per query. The corpus-constant relations
    * (df, dl, nAvg) amortize across query batches in a serving tier.
    */
  /** Late-interaction (MaxSim) chunk retrieval — the multi-vector
    * retrieval scheme (ColBERT-style) at the data-pipeline layer: a
    * document is represented by ONE hashed term-frequency vector PER
    * CDC CHUNK (the q151 chunker, md5-cut p=1/8; 16 md5-bucketed dims,
    * raw int64 counts), a query document scores a candidate document as
    * Σ over its query chunks of the BEST-matching candidate chunk's
    * similarity — so a doc that contains a near-copy of one query
    * paragraph ranks above a doc that weakly matches everywhere, which
    * is exactly the containment structure document-level cosine (q37)
    * and single-vector ANN average away. Candidates are bounded the
    * q134 way, never all-pairs: each chunk contributes its 2 globally
    * rarest tokens (df over distinct chunk membership, ties by token
    * string) to a symmetric prefix relation, and only chunk pairs
    * sharing a rare-token-of-both meet the scorer — the candidate mass
    * is df-bounded, and unmatched pairs contribute the same 0 they
    * would score. Similarity is the exact-integer squared cosine in
    * permille — (dot²·1000) div (n2a·n2b), the q171 device one
    * quantization coarser — so both engines rank identically with no
    * float anywhere (int64-safe while chunks stay under ~1.7k tokens;
    * the p=1/8 CDC cut makes longer chunks vanishing). Repeated
    * identical chunks within a document collapse to one vector with a
    * multiplicity that weights their MaxSim contribution. Per query
    * doc: top-5 candidate docs by (score, id), with the number of
    * query chunks that found any match.
    *
    * Scale: chunking + hashing ride the corpus scans MAP-SIDE — the
    * chunk identity is a 60-bit md5 prefix computed before any
    * exchange, so chunk TEXT never shuffles (the q136/q155
    * discipline; a first cut that checkpointed text-bearing chunk
    * relations OOM'd at sf10 — this form's exchanges carry only id/
    * dim/token rows); the vector relation is ≤16 longs per distinct
    * chunk regardless of chunk length, with within-doc duplicate
    * occurrences divided back out exactly; rare-prefix selection is a
    * rank≤2 window (WindowGroupLimit under the (doc,chunk) partition);
    * the scorer joins at CANDIDATE cardinality (id-keyed, df-bounded —
    * a universally-frequent token can only enter the prefix of chunks
    * with no rarer token, the same residual skew q134 documents);
    * MaxSim folds as max-then-sum partial aggregates and the final
    * top-5 compiles to WindowGroupLimit. Query side here is a
    * doc_id%100 sample; production binds it to an external query
    * batch.
    */
  /** The MaxSim chunk relations a doc set (doc_id, toks, ...) derives —
    * shared bit-exactly by q178's in-memory form, the persisted store
    * build, and its serve path, so store-serve equality is by
    * construction. Returns (vec, mRel, tokd):
    *   vec  (doc_id, h, v, n2) — ONE dense 16-long hashed vector per
    *        distinct chunk (checkpointed; see the packing note below),
    *   mRel (doc_id, h, m)    — within-doc chunk multiplicity (lazy),
    *   tokd (doc_id, h, tok)  — distinct chunk-token membership (lazy).
    *
    * Chunk identity = 60-bit md5 prefix of the chunk text, computed
    * MAP-SIDE — the chunk text itself never reaches any exchange (the
    * q136/q155 discipline); repeated identical chunks in a doc share an
    * id, and their multiplicity m divides back out of the
    * occurrence-level token counts (identical text ⇒ identical token
    * multiset, so the division is exact). mRel/tokd are deliberately
    * NOT materialized: every consumer recomputes from the (page-cached)
    * scan — the q138 re-scan-beats-reuse finding; an eagerly
    * checkpointed variant of these relations OOM'd at sf10. The packed
    * vector (19 longs/chunk) IS materialized — at dim granularity the
    * same checkpoint OOM'd, which is what forced the packing; the
    * scorer then moves ONE row per candidate pair through its joins
    * where a (pair × dim) relational dot was 16× the volume and
    * spilled the disk away at sf10.
    */
  private[graft] def maxSimChunkRels(dset: DataFrame)
      : (DataFrame, DataFrame, DataFrame) = {
    val s = dset.sparkSession
    import s.implicits._
    val raw = PipelineOps.cdcChunks(dset)
      .select($"doc_id",
        conv(substring(md5($"chunk"), 1, 15), 16, 10).cast("long").as("h"),
        $"chunk")
    val mRel = raw.groupBy($"doc_id", $"h").agg(count(lit(1)).as("m"))
    val otoks = raw.select($"doc_id", $"h",
      explode(split($"chunk", " ")).as("tok"))
    val dimCnt = otoks
      .withColumn("dim",
        conv(substring(md5($"tok"), 1, 15), 16, 10).cast("long") % 16)
      .groupBy($"doc_id", $"h", $"dim").agg(count(lit(1)).as("occ_cnt"))
      .join(mRel, Seq("doc_id", "h"))
      .select($"doc_id", $"h", $"dim", expr("occ_cnt div m").as("cnt"))
    val dimAggs = (0 until 16).map(k =>
      sum(when($"dim" === k, $"cnt")).as(s"c$k"))
    val vec = dimCnt.groupBy($"doc_id", $"h")
      .agg(dimAggs.head, dimAggs.tail: _*)
      .select($"doc_id", $"h",
        array((0 until 16).map(k => coalesce(col(s"c$k"), lit(0L))): _*)
          .as("v"))
      .withColumn("n2", graft.functions.VectorMath.dotLong($"v", $"v"))
      // exact-int64 cosine bound: qcos2 computes (dot²·1000) div
      // (n2a·n2b); with every n2 ≤ 9.6e7, n2a·n2b ≤ 9.216e15 and (by
      // Cauchy–Schwarz, dot ≤ √(n2a·n2b)) dot²·1000 ≤ 9.216e18 < 2^63
      // — both products provably in range. A chunk heavy enough to
      // cross the bound (~10k tokens; the p=1/8 CDC cut makes that
      // adversarial, not organic) must fail LOUDLY exactly as the
      // DuckDB oracle raises on overflow — never wrap int64 and
      // silently mis-rank.
      .withColumn("n2",
        when($"n2" <= lit(96000000L), $"n2").otherwise(raise_error(
          concat(lit("maxsim: chunk vector norm2 overflows the exact " +
              "int64 cosine bound (n2="), $"n2",
            lit(" > 96000000) — chunk too heavy for (dot^2*1000) div " +
              "(n2a*n2b)")))))
      .localCheckpoint(true)
    (vec, mRel, otoks.distinct())
  }

  /** Each chunk's 2 globally-rarest tokens under the given df relation
    * ((tok, tok_df); ties by token string) — the symmetric routing
    * prefix of the MaxSim candidate generation (rank ≤ 2 compiles to
    * WindowGroupLimit under the (doc, chunk) partition).
    */
  private[graft] def maxSimRarePrefix(tokd: DataFrame,
      dfRel: DataFrame, carryDf: Boolean = false): DataFrame = {
    val s = tokd.sparkSession
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val ranked = tokd.join(dfRel, "tok")
      .withColumn("pos", row_number().over(
        Window.partitionBy($"doc_id", $"h").orderBy($"tok_df", $"tok")))
      .filter($"pos" <= 2)
    if (carryDf) ranked.select($"doc_id", $"h", $"tok", $"tok_df")
    else ranked.select($"doc_id", $"h", $"tok")
  }

  /** Per-query admitted-candidate-DOC operating points for the
    * BOUNDED MaxSim serve (q209). Nesting keeps the sweep one exact
    * scoring pass — a cap-16 doc set is a prefix of cap-256's under
    * the shared admission rank.
    */
  private[graft] val MaxSimDocCaps = Seq(16L, 64L, 256L)

  /** 4-bit magnitude decode of one packed-vector dim: the whole-bit
    * integer log (length of the binary string, 0 for 0, saturated at
    * 15) — the same value both engines compute exactly, so the proxy
    * ranking replays bit-for-bit.
    */
  private def dec(col: String, i: Int): String =
    s"CASE WHEN $col[$i] = 0 THEN 0L ELSE " +
      s"least(15L, CAST(length(bin($col[$i])) AS BIGINT)) END"

  /** Per-query candidate-DOC admission via a COMPRESSED-VECTOR PROXY
    * pass — the two-stage serving discipline (the binary tier's
    * shortlist idea applied to MaxSim): every candidate pair is first
    * scored with 4-bit whole-bit-log magnitudes of its chunk vectors
    * (per pair, exact integer pcos2 over values ≤ 15 — ONE long of
    * code instead of 19 through the heavy join), the proxy MaxSim
    * folds per candidate doc exactly like the real score, and only
    * each query's top `docCap` docs by (proxy score, cdoc) reach the
    * full-precision scoring join.
    *
    * Two rejected cheaper cuts, measured: token-level admission (pairs
    * in df order: 40–200‰ recall@5; evidence-ranked docs: 32–720‰) —
    * on a uniform-vocabulary corpus the rare-prefix df carries almost
    * no ranking signal, so the admission signal must come from the
    * vectors themselves; the 4-bit proxy is the cheapest
    * representation that preserves the ranking.
    *
    * Expects `pairs` (qdoc, qh, cdoc, cc) distinct, `qvec`/`cvec` as
    * (doc_id, h, v) for the query and corpus chunk vectors (the same
    * relation in memory; the stored chunks relation at serve), `mRel`
    * from [[maxSimChunkRels]]; returns (qdoc, qh, cdoc, cc, drank).
    * Deterministic end to end — the DuckDB oracle replays membership
    * exactly.
    */
  private[graft] def maxSimProxyAdmit(pairs: DataFrame, qvec: DataFrame,
      cvec: DataFrame, mRel: DataFrame, docCap: Int): DataFrame = {
    val s = pairs.sparkSession
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val decSum = (0 until 16).map(i => s"${dec("v", i)} * ${dec("v", i)}")
      .mkString(" + ")
    // ONE packed long of 4-bit magnitudes per chunk moves through the
    // pair join — 1/19th of the full-precision row
    val packSql = (0 until 16).map(i =>
      s"shiftleft(${dec("v", i)}, ${i * 4})").mkString(" + ")
    val pq = qvec.join(pairs.select($"qdoc", $"qh").distinct(),
        $"doc_id" === $"qdoc" && $"h" === $"qh", "left_semi")
      .select($"doc_id".as("qdoc"), $"h".as("qh"),
        expr(packSql).as("pva"), expr(decSum).as("n2pa"))
    val pc = cvec.select($"doc_id".as("cdoc"), $"h".as("cc"),
      expr(packSql).as("pvb"), expr(decSum).as("n2pb"))
    val pdotSum = (0 until 16).map(i =>
      s"(shiftright(pva, ${i * 4}) & 15L) * " +
        s"(shiftright(pvb, ${i * 4}) & 15L)").mkString(" + ")
    val prox = pairs.join(broadcast(pq), Seq("qdoc", "qh"))
      .join(pc.hint("SHUFFLE_HASH"), Seq("cdoc", "cc"))
      .withColumn("pdot", expr(pdotSum))
      .withColumn("pcos2", expr("(pdot * pdot * 1000L) div (n2pa * n2pb)"))
    val pmx = prox.groupBy($"qdoc", $"qh", $"cdoc")
      .agg(max($"pcos2").as("pmx"))
    val admitted = pmx
      .join(mRel.select($"doc_id".as("qdoc"), $"h".as("qh"), $"m"),
        Seq("qdoc", "qh"))
      .groupBy($"qdoc", $"cdoc").agg(sum($"m" * $"pmx").as("pscore"))
      .withColumn("drank", row_number().over(
        Window.partitionBy($"qdoc")
          .orderBy($"pscore".desc, $"cdoc")).cast("long"))
      .filter($"drank" <= docCap)
      .select($"qdoc", $"cdoc", $"drank")
    pairs.join(admitted, Seq("qdoc", "cdoc"))
      .select($"qdoc", $"qh", $"cdoc", $"cc", $"drank")
  }

  /** The MaxSim scoring tail shared by q178 and the store serve:
    * candidate chunk pairs (qdoc, qh, cdoc, cc) score by exact-integer
    * squared cosine in permille, fold max-per-candidate-chunk then
    * multiplicity-weighted sum per candidate doc, and keep the top-k
    * by (score, cdoc). `av`/`qm` are the query side (broadcastable —
    * a serving batch is bounded); `bv` is the corpus side, hinted
    * SHUFFLE_HASH so the pair relation is never SORTED (the sort-merge
    * default cost ~85 of q178's first-cut 94 s at sf1).
    */
  private[graft] def maxSimScore(cand: DataFrame, av: DataFrame,
      bv: DataFrame, qm: DataFrame, k: Int): DataFrame = {
    val s = cand.sparkSession
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val mx = cand.join(broadcast(av), Seq("qdoc", "qh"))
      .join(bv.hint("SHUFFLE_HASH"), Seq("cdoc", "cc"))
      .withColumn("dot", graft.functions.VectorMath.dotLong($"va", $"vb"))
      .withColumn("qcos2", expr("(dot * dot * 1000L) div (n2a * n2b)"))
      .groupBy($"qdoc", $"qh", $"cdoc")
      .agg(max($"qcos2").as("mx"))
    val score = mx
      .join(qm.select($"doc_id".as("qdoc"), $"h".as("qh"), $"m"),
        Seq("qdoc", "qh"))
      .groupBy($"qdoc", $"cdoc")
      .agg(sum($"m" * $"mx").as("score"), count(lit(1)).as("n_chunks_hit"))
    score.withColumn("rk", row_number().over(
        Window.partitionBy($"qdoc").orderBy($"score".desc, $"cdoc")))
      .filter($"rk" <= k)
      .select($"qdoc".as("query_doc"), $"rk".cast("long").as("rk"),
        $"cdoc".as("cand_doc"), $"score", $"n_chunks_hit")
      .orderBy($"query_doc", $"rk")
  }

  /** MaxSim SERVED FROM DISK — q178's scoring against the persisted
    * chunk index ([[MaxSimStore]]): build the store over the corpus,
    * then serve the same doc_id%100 query sample from its parquet
    * relations (bucket-pruned routing, stored df, stored chunk
    * vectors). Hashes against q178's OWN oracle — the store must be
    * transparent: same candidates, same scores, same ranks.
    */
  private def q182(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val dir = Scratch.dir(s, "maxsim/q182")
    MaxSimStore.build(docs(s, d), dir)
    MaxSimStore.serve(s, dir, docs(s, d).filter($"doc_id" % 100 === 0))
  }

  /** MaxSim store through the FULL MUTATION LIFECYCLE — the q203 gate
    * entry for [[MaxSimStore]]'s manifest protocol (q202's shape on
    * the chunk index): build on doc_id % 3 ≠ 2, ingest the rest as an
    * exactly-once generation (REPLAYED once — a double ingest would
    * double candidate mass and fail the hash), tombstone every
    * doc_id ≡ 3 (mod 7), then serve the %100 query sample BEFORE
    * compaction (phase 0) and AFTER (phase 1). The oracle replays the
    * df-at-commit prefix rule per generation (gen 0's prefixes under
    * the base corpus's df, gen 1's under the full df), the stored-df
    * query-side selection, and the delete mask — both phases from one
    * computation, so the hash proves ingest exactly-once, masking,
    * the versioned routing rule, and compaction transparency.
    */
  private def q203(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val dir = Scratch.dir(s, "maxsim/q203")
    val corpus = docs(s, d)
    MaxSimStore.build(corpus.filter($"doc_id" % 3 =!= 2), dir)
    val g1 = corpus.filter($"doc_id" % 3 === 2)
    MaxSimStore.addBatch(s, dir, g1, gen = 1L)
    MaxSimStore.addBatch(s, dir, g1, gen = 1L) // replay: committed no-op
    MaxSimStore.delete(s, dir,
      corpus.filter($"doc_id" % 7 === 3).select($"doc_id"))
    val queries = corpus.filter($"doc_id" % 100 === 0)
    def phaseReport(p: Long): DataFrame =
      MaxSimStore.serve(s, dir, queries)
        .select(lit(p).as("phase"), $"query_doc", $"rk", $"cand_doc",
          $"score", $"n_chunks_hit")
    // phase 0 must materialize before compact: its plan reads the
    // pre-fold generation directories, GC'd after the fold commits
    val pre = phaseReport(0L).localCheckpoint(true)
    MaxSimStore.compact(s, dir)
    pre.unionByName(phaseReport(1L))
      .orderBy($"phase", $"query_doc", $"rk")
  }

  private def q178(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val (vec, mRel, tokd) = maxSimChunkRels(docs(s, d))
    val dfRel = tokd.groupBy($"tok").agg(count(lit(1)).as("tok_df"))
    val pref = maxSimRarePrefix(tokd, dfRel)
    val cand = pref.filter($"doc_id" % 100 === 0)
      .select($"doc_id".as("qdoc"), $"h".as("qh"), $"tok")
      .join(pref.select($"doc_id".as("cdoc"), $"h".as("cc"), $"tok"), "tok")
      .filter($"qdoc" =!= $"cdoc")
      .select($"qdoc", $"qh", $"cdoc", $"cc").distinct()
    // query-side vectors are the doc_id%100 sample — broadcastable at
    // any corpus size (1% of chunks × 19 longs)
    val av = vec.filter($"doc_id" % 100 === 0)
      .select($"doc_id".as("qdoc"), $"h".as("qh"),
        $"v".as("va"), $"n2".as("n2a"))
    val bv = vec.select($"doc_id".as("cdoc"), $"h".as("cc"),
      $"v".as("vb"), $"n2".as("n2b"))
    maxSimScore(cand, av, bv, mRel, 5)
  }

  /** MaxSim with BOUNDED full-precision scoring mass — the
    * operating-point answer to q178's one honest scale negative (the
    * scoring join moves every candidate pair's 19-long vectors,
    * unbounded per query for hot prefixes): a PROXY stage scores all
    * candidate pairs with one packed long of 4-bit magnitudes each
    * ([[maxSimProxyAdmit]] — the binary-shortlist discipline on the
    * chunk tier), each query admits its top [[MaxSimDocCaps]] docs by
    * proxy MaxSim, and only the admitted docs' pairs reach the
    * full-precision join. The report scores every cap from ONE exact
    * pass at the widest cap (admission ranks nest) and evaluates
    * recall@5 of each capped top-5 against the UNCAPPED q178 ranking,
    * next to the per-query admitted and uncapped pair counts — so the
    * mass cut and its recall price are measured in the same table.
    *
    * Scale: stage 1 touches the same pair mass but moves 1 long + 1
    * norm per chunk instead of 19 longs (the very volume ratio that
    * made q178's first relational cut spill at sf10); stage 2 moves
    * full vectors for ≤ docCap docs per query. The exact side remains
    * in this entry as its audit (the q201/q204 relationship). The
    * persisted store serves uncapped ([[MaxSimStore.serve]]): its capped
    * serve measured slower than the uncapped one on a 4-cpu host (7 vs
    * 13 queries/s) and was removed, so this entry keeps the only capped
    * plan.
    */
  private def q209(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val (vec, mRel, tokd) = maxSimChunkRels(docs(s, d))
    val dfRel = tokd.groupBy($"tok").agg(count(lit(1)).as("tok_df"))
    val pref = maxSimRarePrefix(tokd, dfRel)
    val qpref = pref.filter($"doc_id" % 100 === 0)
      .select($"doc_id".as("qdoc"), $"h".as("qh"), $"tok")
    // q178's exact candidate set — stage 1 scores ALL of it, but with
    // 1-long proxy codes; only admitted docs' pairs see full vectors
    val pairs = qpref
      .join(pref.select($"doc_id".as("cdoc"), $"h".as("cc"), $"tok"),
        "tok")
      .filter($"qdoc" =!= $"cdoc")
      .select($"qdoc", $"qh", $"cdoc", $"cc").distinct()
      .localCheckpoint(true)
    val capped = maxSimProxyAdmit(pairs, vec,
      vec.select($"doc_id", $"h", $"v"), mRel,
      MaxSimDocCaps.max.toInt).localCheckpoint(true)
    val av = vec.filter($"doc_id" % 100 === 0)
      .select($"doc_id".as("qdoc"), $"h".as("qh"),
        $"v".as("va"), $"n2".as("n2a"))
    val bv = vec.select($"doc_id".as("cdoc"), $"h".as("cc"),
      $"v".as("vb"), $"n2".as("n2b"))
    // ONE scoring join at the widest cap, admission rank carried
    val scored = capped.join(broadcast(av), Seq("qdoc", "qh"))
      .join(bv.hint("SHUFFLE_HASH"), Seq("cdoc", "cc"))
      .withColumn("dot", graft.functions.VectorMath.dotLong($"va", $"vb"))
      .withColumn("qcos2", expr("(dot * dot * 1000L) div (n2a * n2b)"))
      .select($"qdoc", $"qh", $"cdoc", $"cc", $"drank", $"qcos2")
      .localCheckpoint(true)
    val caps = MaxSimDocCaps.toDF("cap")
    val cmx = scored.crossJoin(broadcast(caps)).filter($"drank" <= $"cap")
      .groupBy($"cap", $"qdoc", $"qh", $"cdoc").agg(max($"qcos2").as("mx"))
    val csco = cmx
      .join(mRel.select($"doc_id".as("qdoc"), $"h".as("qh"), $"m"),
        Seq("qdoc", "qh"))
      .groupBy($"cap", $"qdoc", $"cdoc")
      .agg(sum($"m" * $"mx").as("score"))
    val ctop = csco.withColumn("rk", row_number().over(
        Window.partitionBy($"cap", $"qdoc")
          .orderBy($"score".desc, $"cdoc")))
      .filter($"rk" <= 5).select($"cap", $"qdoc", $"cdoc")
    // the uncapped q178 ranking is this entry's audit ground truth
    val ex = maxSimScore(pairs, av, bv, mRel, 5)
      .select($"query_doc".as("qdoc"), $"cand_doc".as("cdoc"))
      .localCheckpoint(true)
    val kRel = ex.groupBy($"qdoc").agg(count(lit(1)).as("k"))
    val nPairsFull = pairs.groupBy($"qdoc")
      .agg(count(lit(1)).as("n_pairs_full"))
    val nPairs = capped.crossJoin(broadcast(caps))
      .filter($"drank" <= $"cap")
      .groupBy($"cap", $"qdoc").agg(count(lit(1)).as("n_pairs"))
    val hits = ctop.join(ex, Seq("qdoc", "cdoc"), "left_semi")
      .groupBy($"cap", $"qdoc").agg(count(lit(1)).as("n_hit"))
    val per = docs(s, d).filter($"doc_id" % 100 === 0)
      .select($"doc_id".as("qdoc")).crossJoin(broadcast(caps))
      .join(kRel, Seq("qdoc"), "left")
      .join(nPairs, Seq("cap", "qdoc"), "left")
      .join(nPairsFull, Seq("qdoc"), "left")
      .join(hits, Seq("cap", "qdoc"), "left")
      .select($"cap", $"qdoc".as("query_doc"),
        coalesce($"k", lit(0L)).as("k"),
        coalesce($"n_pairs", lit(0L)).as("n_pairs"),
        coalesce($"n_pairs_full", lit(0L)).as("n_pairs_full"),
        coalesce($"n_hit", lit(0L)).as("n_hit"))
    val overall = per.groupBy($"cap")
      .agg(sum($"k").as("k"), sum($"n_pairs").as("n_pairs"),
        sum($"n_pairs_full").as("n_pairs_full"),
        sum($"n_hit").as("n_hit"))
      .select($"cap", lit(-1L).as("query_doc"), $"k", $"n_pairs",
        $"n_pairs_full", $"n_hit")
    per.unionByName(overall)
      .select($"cap", $"query_doc", $"k", $"n_pairs", $"n_pairs_full",
        $"n_hit",
        expr("CASE WHEN k = 0 THEN 1000L ELSE n_hit * 1000 div k END")
          .as("recall_permille"))
      .orderBy($"cap", $"query_doc")
  }

  /** The corpus-constant BM25 relations (the lexical side's "index"):
    * per-(tok, doc) term frequency, document frequency, doc lengths,
    * and the corpus count/avg-length scalars. Shared by q163 and the
    * streaming hybrid serve, where they are fixed serving config
    * computed once, not per trigger.
    */
  private[graft] case class Bm25Stats(pairs: DataFrame, dfRel: DataFrame,
      dl: DataFrame, nAvg: DataFrame)

  private[graft] def bm25Stats(s: SparkSession, d: String): Bm25Stats =
    bm25StatsOf(Tables(s, d, "documents"))

  private[graft] def bm25StatsOf(documents: DataFrame): Bm25Stats = {
    val s = documents.sparkSession
    import s.implicits._
    val toks = documents
      .select($"doc_id", explode(split($"text", "\\s+")).as("tok"))
    val dl = toks.groupBy($"doc_id").agg(count(lit(1)).as("len"))
    val nAvg = dl.agg(count(lit(1)).as("n_docs"),
      expr("sum(len) * 1000 div count(1)").as("avg_mil"))
    val pairs = toks.groupBy($"tok", $"doc_id").agg(count(lit(1)).as("tf"))
    val dfRel = pairs.groupBy($"tok").agg(count(lit(1)).as("df"))
    Bm25Stats(pairs, dfRel, dl, nAvg)
  }

  /** The sparse (BM25) ranker shared by q163 and the streaming hybrid
    * serve: from each query's DISTINCT token set (`queryToks`:
    * (query_id, tok)), keep its 5 rarest shared terms (df ≥ 2, ties by
    * token), score q112's exact-rational BM25 with the Lucene-style
    * 1e6 idf cap, and rank the top 20 candidates per query.
    */
  private[graft] def bm25SparseTop(stats: Bm25Stats,
      queryToks: DataFrame): DataFrame = {
    val s = queryToks.sparkSession
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val qterms = queryToks
      .join(stats.dfRel, "tok").filter($"df" >= 2)
      .withColumn("rn", row_number().over(
        Window.partitionBy($"query_id").orderBy($"df", $"tok")))
      .filter($"rn" <= 5)
      .crossJoin(broadcast(stats.nAvg))
      .withColumn("idf_k", expr("least((1000 * n_docs) div df, 1000000L)"))
      .select($"query_id", $"tok", $"idf_k", $"avg_mil")
    stats.pairs.join(broadcast(qterms), "tok")
      .filter($"doc_id" =!= $"query_id")
      .join(stats.dl, "doc_id")
      .withColumn("term_score", expr(
        """(idf_k * 44 * avg_mil * tf)
           div (20 * avg_mil * tf + 6 * avg_mil + 18 * len * 1000)"""))
      .groupBy($"query_id", $"doc_id")
      .agg(sum($"term_score").as("score"))
      .withColumn("sparse_rank", row_number().over(
        Window.partitionBy($"query_id").orderBy($"score".desc, $"doc_id")))
      .filter($"sparse_rank" <= 20)
      .select($"query_id", $"doc_id",
        $"sparse_rank".cast("long").as("sparse_rank"))
  }

  private def q163(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val stats = bm25Stats(s, d)
    val emb = VectorOps.quantized(s, d)
    val qids = Tables(s, d, "documents").filter($"doc_id" % 100 === 0)
      .join(emb.select($"vec_id".as("doc_id")), "doc_id")
      .select($"doc_id".as("query_id"))
    val queryToks = stats.pairs.select($"doc_id".as("query_id"), $"tok")
      .join(qids, "query_id")
    val sparseRank = bm25SparseTop(stats, queryToks)
    // dense side: the SHARED session ground truth — the exact top-20
    // over the full corpus ([[VectorOps.exactTop]] "full", the same
    // brute force q161 gates against), restricted to this entry's
    // query set (per-query rankings are independent, so the restriction
    // is a plain semi-filter)
    val denseRank = VectorOps.exactTop(s, d, "full")
      .join(qids, "query_id")
      .select($"query_id", $"neighbor".as("doc_id"),
        $"rank".as("dense_rank"))
    rrfFuse(sparseRank, denseRank, 10)
  }

  /** Integer Reciprocal Rank Fusion (K = 60, the standard constant, in
    * exact integer space so both engines rank identically) of a sparse
    * and a dense ranking — the fusion tail shared by q163 and the
    * streaming hybrid serve. Either side's missing candidates carry
    * rank 0 (retrieved by the other system only).
    */
  private[graft] def rrfFuse(sparseRank: DataFrame, denseRank: DataFrame,
      k: Int): DataFrame = {
    val s = sparseRank.sparkSession
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    sparseRank.join(denseRank, Seq("query_id", "doc_id"), "full_outer")
      .select($"query_id", $"doc_id",
        coalesce($"sparse_rank", lit(0L)).as("sparse_rank"),
        coalesce($"dense_rank", lit(0L)).as("dense_rank"))
      .withColumn("rrf", expr(
        """CASE WHEN sparse_rank > 0 THEN 1000000L div (60 + sparse_rank)
                ELSE 0L END
           + CASE WHEN dense_rank > 0 THEN 1000000L div (60 + dense_rank)
                  ELSE 0L END"""))
      .withColumn("rank", row_number().over(
        Window.partitionBy($"query_id").orderBy($"rrf".desc, $"doc_id")))
      .filter($"rank" <= k)
      .select($"query_id", $"rank".cast("long").as("rank"), $"doc_id",
        $"rrf", $"sparse_rank", $"dense_rank")
      .orderBy($"query_id", $"rank")
  }

  /** SMOOTHED-LM quality scoring — interpolated Kneser–Ney over the
    * bigram model, the estimator class the CCNet-style perplexity
    * filter actually runs (q138's raw conditional surprisal is the MLE:
    * it over-trusts rare bigrams, which is exactly what smoothing
    * exists to fix). Per position, with absolute discount D = 3/4:
    * P(cur|prev) = (c₂ − D)/c₁ + D·N1(prev)/c₁ · Ncont(cur)/Nc, where
    * N1(prev) = distinct continuations of prev, Ncont(cur) = distinct
    * left contexts of cur (the continuation probability — KN's insight
    * that "Francisco" follows few contexts however frequent it is),
    * and Nc = distinct bigram types. Cross-multiplied into ONE integer
    * rational — num = (4·c₂−3)·Nc + 3·N1·Ncont, den = 4·c₁·Nc (c₂ ≥ 1
    * keeps the discounted term positive) — then the whole-bit coding
    * cost ⌊log₂ den⌋ − ⌊log₂ num⌋ via the `length(bin(x))−1` device,
    * so Spark and DuckDB agree bit-for-bit. Reported per (lang,
    * source) beside the MLE bits on the SAME positions plus the share
    * of positions the smoothing moved by a whole bit. Operand bound:
    * num ≤ 4·c₂·Nc — ANSI arithmetic (session-pinned) errors loudly
    * past int64, same remedy class as q112/q137's lift caps.
    *
    * Scale: q138's two-scan posture — the model folds map-side to
    * bigram-type cardinality (N1/Ncont/Nc derive from the SAME folded
    * relation, checkpointed once for its four consumers); the scoring
    * join broadcasts at this vocab and degrades to one co-partitioned
    * position shuffle past broadcast range; per-doc rollups
    * partial-aggregate to doc cardinality.
    */
  private def q167(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val t = docs(s, d)
    val pairs = rawPairs(t, Seq($"doc_id", $"lang", $"source"))
    val bigram = pairs.groupBy($"prev", $"cur")
      .agg(count(lit(1)).as("c2")).localCheckpoint(true)
    val byPrev = bigram.groupBy($"prev")
      .agg(sum($"c2").as("c1"), count(lit(1)).as("n1"))
    val byCur = bigram.groupBy($"cur").agg(count(lit(1)).as("ncont"))
    val nc = bigram.agg(count(lit(1)).as("nc"))
    val model = bigram
      .join(byPrev, Seq("prev"), "left")
      .join(byCur, Seq("cur"), "left")
      .crossJoin(broadcast(nc))
      .withColumn("num", expr("(4 * c2 - 3) * nc + 3 * n1 * ncont"))
      .withColumn("den", expr("4 * c1 * nc"))
      .select($"prev", $"cur",
        ((length(bin($"den")) - 1) - (length(bin($"num")) - 1))
          .cast("long").as("knb"),
        ((length(bin($"c1")) - 1) - (length(bin($"c2")) - 1))
          .cast("long").as("mleb"))
    val pd = pairs
      .join(model, Seq("prev", "cur"), "left")
      .groupBy($"doc_id", $"lang", $"source")
      .agg(sum($"knb").as("kn_bits"), sum($"mleb").as("mle_bits"),
        sum(when($"knb" =!= $"mleb", 1L).otherwise(0L)).as("nsm"),
        count(lit(1)).as("nt"))
    pd.groupBy($"lang", $"source")
      .agg(count(lit(1)).as("n_docs"),
        expr("sum(kn_bits * 1000 div nt) div count(1)")
          .as("kn_bits_permille"),
        expr("sum(mle_bits * 1000 div nt) div count(1)")
          .as("mle_bits_permille"),
        expr("sum(nsm * 1000 div nt) div count(1)")
          .as("smoothed_permille"))
      .orderBy($"lang", $"source")
  }

  /** Fixed-SIZE deterministic reservoir per stratum — the eval-set /
    * held-out carving move: exactly 20 documents per language, chosen
    * as the k smallest md5(doc_id) values (ties impossible below the
    * 60-bit prefix, doc_id tiebreak anyway). Hash order makes the
    * sample uniform-at-random in distribution yet REPRODUCIBLE and
    * resharding-stable, and — unlike q74's rate sampling — the size is
    * exact, which is what an eval set needs. [[graft.streaming.StreamOps.reservoirStream]]
    * is the online form: the same sample maintained incrementally with
    * O(k) state per stratum, emitting its own admit/evict CDC.
    *
    * Scale: the rank window compiles to WindowGroupLimit (partial top-k
    * per task before the exchange — the q133 posture), so the shuffle
    * carries at most k rows per (task, stratum) regardless of corpus
    * size; the hash is one codegen'd projection.
    */
  private def q166(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val h = conv(substring(md5($"doc_id".cast("string")), 1, 15), 16, 10)
      .cast("long")
    Tables(s, d, "documents")
      .withColumn("h", h)
      .withColumn("pick", row_number().over(
        Window.partitionBy($"lang").orderBy($"h", $"doc_id")).cast("long"))
      .filter($"pick" <= 20)
      .select($"lang", $"pick", $"doc_id", $"h")
      .orderBy($"lang", $"pick")
  }

  /** Shared corpus CTEs of the MaxSim oracles: chunking, chunk ids,
    * multiplicity, dim-hashed vectors, norms, chunk-token membership,
    * and the full-corpus df — everything before prefix selection.
    */
  private def maxSimCorpusCtes: String =
      """t AS (
           SELECT doc_id, string_split_regex(text, '\s+') AS toks
           FROM documents),
         b AS (
           SELECT doc_id, toks,
             list_filter(list_transform(toks, (tk, i) ->
               CASE WHEN ('0x' || substr(md5(tk), 1, 7))::UBIGINT % 8 = 0
                 THEN i - 1 ELSE -1 END), x -> x >= 0) AS bpos
           FROM t),
         s AS (
           SELECT doc_id, toks,
             list_prepend(0, list_transform(bpos, x -> x + 1)) AS starts,
             list_append(list_transform(bpos, x -> x + 1), len(toks)) AS ends
           FROM b),
         ch0 AS (
           SELECT doc_id,
             unnest(list_filter(list_transform(range(1, len(starts) + 1),
               k -> array_to_string(toks[starts[k] + 1 : ends[k]], ' ')),
               c -> c <> '')) AS chunk
           FROM s),
         raw AS (
           SELECT doc_id,
             CAST(('0x' || substr(md5(chunk), 1, 15))::UBIGINT AS BIGINT)
               AS h,
             chunk
           FROM ch0),
         mr AS (
           SELECT doc_id, h, CAST(count(*) AS BIGINT) AS m
           FROM raw GROUP BY 1, 2),
         ctoks AS (
           SELECT doc_id, h, unnest(string_split(chunk, ' ')) AS tok
           FROM raw),
         vec AS (
           SELECT doc_id, h, dim,
             CAST(occ_cnt // m AS BIGINT) AS cnt
           FROM (
             SELECT doc_id, h,
               CAST(('0x' || substr(md5(tok), 1, 15))::UBIGINT % 16
                 AS BIGINT) AS dim,
               CAST(count(*) AS BIGINT) AS occ_cnt
             FROM ctoks GROUP BY 1, 2, 3)
           JOIN mr USING (doc_id, h)),
         n2 AS (
           SELECT doc_id, h, CAST(sum(cnt * cnt) AS BIGINT) AS n2
           FROM vec GROUP BY 1, 2),
         tokd AS (SELECT DISTINCT doc_id, h, tok FROM ctoks),
         dfr AS (
           SELECT tok, CAST(count(*) AS BIGINT) AS tok_df
           FROM tokd GROUP BY 1)"""

  /** The shared scoring tail: candidate pairs -> exact integer qcos2,
    * max per candidate chunk, multiplicity-weighted sum per candidate
    * doc. Expects a `cand (qdoc, qh, cdoc, cc)` CTE in scope.
    */
  private def maxSimScoreCtes: String =
      """dotr AS (
           SELECT qdoc, qh, cdoc, cc,
             CAST(sum(va.cnt * vb.cnt) AS BIGINT) AS dot
           FROM cand
           JOIN vec va ON va.doc_id = cand.qdoc AND va.h = cand.qh
           JOIN vec vb ON vb.doc_id = cand.cdoc AND vb.h = cand.cc
             AND vb.dim = va.dim
           GROUP BY 1, 2, 3, 4),
         sc AS (
           SELECT qdoc, qh, cdoc,
             (dot * dot * 1000) // (na.n2 * nb.n2) AS qcos2
           FROM dotr
           JOIN n2 na ON na.doc_id = dotr.qdoc AND na.h = dotr.qh
           JOIN n2 nb ON nb.doc_id = dotr.cdoc AND nb.h = dotr.cc),
         mx AS (
           SELECT qdoc, qh, cdoc, max(qcos2) AS mx
           FROM sc GROUP BY 1, 2, 3),
         sco AS (
           SELECT qdoc, cdoc, CAST(sum(d.m * mx.mx) AS BIGINT) AS score,
             CAST(count(*) AS BIGINT) AS n_chunks_hit
           FROM mx JOIN mr d ON d.doc_id = mx.qdoc AND d.h = mx.qh
           GROUP BY 1, 2)"""

  /** q178's relational replay — ALSO the q182 oracle: the persisted
    * store serve must be transparent, so it hashes against the
    * identical SQL.
    */
  private def maxSimOracleSql: String =
    s"""WITH $maxSimCorpusCtes,
         pref AS (
           SELECT doc_id, h, tok FROM (
             SELECT doc_id, h, tok, row_number() OVER (
               PARTITION BY doc_id, h ORDER BY tok_df, tok) AS pos
             FROM tokd JOIN dfr USING (tok))
           WHERE pos <= 2),
         cand AS (
           SELECT DISTINCT a.doc_id AS qdoc, a.h AS qh,
             c.doc_id AS cdoc, c.h AS cc
           FROM pref a JOIN pref c USING (tok)
           WHERE a.doc_id % 100 = 0 AND a.doc_id <> c.doc_id),
         $maxSimScoreCtes
         SELECT qdoc AS query_doc, CAST(rk AS BIGINT) AS rk,
           cdoc AS cand_doc, score, n_chunks_hit
         FROM (
           SELECT qdoc, cdoc, score, n_chunks_hit, row_number() OVER (
             PARTITION BY qdoc ORDER BY score DESC, cdoc) AS rk
           FROM sco)
         WHERE rk <= 5 ORDER BY query_doc, rk"""

  /** q209 replay: the q178 candidate set, the 4-bit whole-bit-log
    * proxy scoring, the proxy-ranked candidate-doc admission, one
    * exact scoring pass at the widest cap re-aggregated per cap, and
    * the uncapped q178 ranking as the recall ground truth —
    * structurally the engine's own derivation.
    */
  private def q209OracleSql: String =
    s"""WITH $maxSimCorpusCtes,
         pref AS MATERIALIZED (
           SELECT doc_id, h, tok FROM (
             SELECT doc_id, h, tok, row_number() OVER (
               PARTITION BY doc_id, h ORDER BY tok_df, tok) AS pos
             FROM tokd JOIN dfr USING (tok))
           WHERE pos <= 2),
         cand AS MATERIALIZED (
           SELECT DISTINCT a.doc_id AS qdoc, a.h AS qh,
             c.doc_id AS cdoc, c.h AS cc
           FROM pref a JOIN pref c USING (tok)
           WHERE a.doc_id % 100 = 0 AND a.doc_id <> c.doc_id),
         decv AS MATERIALIZED (
           SELECT doc_id, h, dim,
             least(15, CAST(length(bin(cnt)) AS BIGINT)) AS dv
           FROM vec),
         pn2 AS (
           SELECT doc_id, h, CAST(sum(dv * dv) AS BIGINT) AS n2p
           FROM decv GROUP BY 1, 2),
         pdotr AS (
           SELECT p.qdoc, p.qh, p.cdoc, p.cc,
             CAST(sum(va.dv * vb.dv) AS BIGINT) AS pdot
           FROM cand p
           JOIN decv va ON va.doc_id = p.qdoc AND va.h = p.qh
           JOIN decv vb ON vb.doc_id = p.cdoc AND vb.h = p.cc
             AND vb.dim = va.dim
           GROUP BY 1, 2, 3, 4),
         psc AS (
           SELECT qdoc, qh, cdoc,
             (pdot * pdot * 1000) // (na.n2p * nb.n2p) AS pcos2
           FROM pdotr
           JOIN pn2 na ON na.doc_id = pdotr.qdoc AND na.h = pdotr.qh
           JOIN pn2 nb ON nb.doc_id = pdotr.cdoc AND nb.h = pdotr.cc),
         pmx AS (
           SELECT qdoc, qh, cdoc, max(pcos2) AS pmx
           FROM psc GROUP BY 1, 2, 3),
         padm AS MATERIALIZED (
           SELECT qdoc, cdoc, CAST(drank AS BIGINT) AS drank FROM (
             SELECT qdoc, cdoc, row_number() OVER (PARTITION BY qdoc
               ORDER BY pscore DESC, cdoc) AS drank
             FROM (SELECT qdoc, cdoc,
                     CAST(sum(d.m * pmx.pmx) AS BIGINT) AS pscore
                   FROM pmx JOIN mr d
                     ON d.doc_id = pmx.qdoc AND d.h = pmx.qh
                   GROUP BY 1, 2))
           WHERE drank <= ${MaxSimDocCaps.max}),
         capped AS MATERIALIZED (
           SELECT c.qdoc, c.qh, c.cdoc, c.cc, a.drank
           FROM cand c JOIN padm a
             ON a.qdoc = c.qdoc AND a.cdoc = c.cdoc),
         cdotr AS (
           SELECT c.qdoc, c.qh, c.cdoc, c.cc, c.drank,
             CAST(sum(va.cnt * vb.cnt) AS BIGINT) AS dot
           FROM capped c
           JOIN vec va ON va.doc_id = c.qdoc AND va.h = c.qh
           JOIN vec vb ON vb.doc_id = c.cdoc AND vb.h = c.cc
             AND vb.dim = va.dim
           GROUP BY 1, 2, 3, 4, 5),
         csc AS MATERIALIZED (
           SELECT qdoc, qh, cdoc, cc, drank,
             (dot * dot * 1000) // (na.n2 * nb.n2) AS qcos2
           FROM cdotr
           JOIN n2 na ON na.doc_id = cdotr.qdoc AND na.h = cdotr.qh
           JOIN n2 nb ON nb.doc_id = cdotr.cdoc AND nb.h = cdotr.cc),
         caps AS (${MaxSimDocCaps.map(c =>
        s"SELECT CAST($c AS BIGINT) AS cap").mkString(" UNION ALL ")}),
         cmx AS (
           SELECT p.cap, s.qdoc, s.qh, s.cdoc, max(s.qcos2) AS mx
           FROM csc s JOIN caps p ON s.drank <= p.cap
           GROUP BY 1, 2, 3, 4),
         csco AS (
           SELECT cap, qdoc, cdoc,
             CAST(sum(d.m * cmx.mx) AS BIGINT) AS score
           FROM cmx JOIN mr d ON d.doc_id = cmx.qdoc AND d.h = cmx.qh
           GROUP BY 1, 2, 3),
         ctop AS (
           SELECT cap, qdoc, cdoc FROM (
             SELECT cap, qdoc, cdoc, row_number() OVER (
               PARTITION BY cap, qdoc ORDER BY score DESC, cdoc) AS rk
             FROM csco) WHERE rk <= 5),
         $maxSimScoreCtes,
         ex AS MATERIALIZED (
           SELECT qdoc, cdoc FROM (
             SELECT qdoc, cdoc, row_number() OVER (
               PARTITION BY qdoc ORDER BY score DESC, cdoc) AS rk
             FROM sco) WHERE rk <= 5),
         krel AS (SELECT qdoc, CAST(count(*) AS BIGINT) AS k
                  FROM ex GROUP BY 1),
         npf AS (SELECT qdoc, CAST(count(*) AS BIGINT) AS n_pairs_full
                 FROM cand GROUP BY 1),
         np AS (
           SELECT p.cap, c.qdoc, CAST(count(*) AS BIGINT) AS n_pairs
           FROM capped c JOIN caps p ON c.drank <= p.cap GROUP BY 1, 2),
         ht AS (
           SELECT t.cap, t.qdoc, CAST(count(*) AS BIGINT) AS n_hit
           FROM ctop t JOIN ex ON ex.qdoc = t.qdoc AND ex.cdoc = t.cdoc
           GROUP BY 1, 2),
         per AS (
           SELECT p.cap, qd.qdoc AS query_doc,
             CAST(coalesce(krel.k, 0) AS BIGINT) AS k,
             CAST(coalesce(np.n_pairs, 0) AS BIGINT) AS n_pairs,
             CAST(coalesce(npf.n_pairs_full, 0) AS BIGINT)
               AS n_pairs_full,
             CAST(coalesce(ht.n_hit, 0) AS BIGINT) AS n_hit
           FROM (SELECT DISTINCT doc_id AS qdoc FROM documents
                 WHERE doc_id % 100 = 0) qd
           CROSS JOIN caps p
           LEFT JOIN krel ON krel.qdoc = qd.qdoc
           LEFT JOIN np ON np.cap = p.cap AND np.qdoc = qd.qdoc
           LEFT JOIN npf ON npf.qdoc = qd.qdoc
           LEFT JOIN ht ON ht.cap = p.cap AND ht.qdoc = qd.qdoc),
         al AS (
           SELECT cap, CAST(-1 AS BIGINT) AS query_doc,
             CAST(sum(k) AS BIGINT) AS k,
             CAST(sum(n_pairs) AS BIGINT) AS n_pairs,
             CAST(sum(n_pairs_full) AS BIGINT) AS n_pairs_full,
             CAST(sum(n_hit) AS BIGINT) AS n_hit
           FROM per GROUP BY 1)
         SELECT cap, query_doc, k, n_pairs, n_pairs_full, n_hit,
           CAST(CASE WHEN k = 0 THEN 1000
                ELSE n_hit * 1000 // k END AS BIGINT) AS recall_permille
         FROM (SELECT * FROM per UNION ALL SELECT * FROM al)
         ORDER BY cap, query_doc"""

  /** The q203 lifecycle replay: per-generation prefix df scopes
    * (gen 0 under the base corpus df, gen 1 under the full df —
    * "df at commit"), stored-df query-side selection, the delete
    * mask on the corpus side, and both serve phases from one
    * computation (compaction preserves committed prefixes, so
    * pre/post rows are identical by design).
    */
  private def q203OracleSql: String =
    s"""WITH $maxSimCorpusCtes,
         dfr0 AS (
           SELECT tok, CAST(count(*) AS BIGINT) AS tok_df
           FROM tokd WHERE doc_id % 3 <> 2 GROUP BY 1),
         pref0 AS (
           SELECT doc_id, h, tok FROM (
             SELECT doc_id, h, tok, row_number() OVER (
               PARTITION BY doc_id, h ORDER BY tok_df, tok) AS pos
             FROM tokd JOIN dfr0 USING (tok)
             WHERE doc_id % 3 <> 2)
           WHERE pos <= 2),
         pref1 AS (
           SELECT doc_id, h, tok FROM (
             SELECT doc_id, h, tok, row_number() OVER (
               PARTITION BY doc_id, h ORDER BY tok_df, tok) AS pos
             FROM tokd JOIN dfr USING (tok)
             WHERE doc_id % 3 = 2)
           WHERE pos <= 2),
         cpref AS (
           SELECT * FROM pref0 UNION ALL SELECT * FROM pref1),
         qpref AS (
           SELECT doc_id, h, tok FROM (
             SELECT doc_id, h, tok, row_number() OVER (
               PARTITION BY doc_id, h ORDER BY tok_df, tok) AS pos
             FROM tokd JOIN dfr USING (tok)
             WHERE doc_id % 100 = 0)
           WHERE pos <= 2),
         cand AS (
           SELECT DISTINCT a.doc_id AS qdoc, a.h AS qh,
             c.doc_id AS cdoc, c.h AS cc
           FROM qpref a JOIN cpref c USING (tok)
           WHERE a.doc_id <> c.doc_id AND c.doc_id % 7 <> 3),
         $maxSimScoreCtes
         SELECT ph.phase, qdoc AS query_doc, CAST(rk AS BIGINT) AS rk,
           cdoc AS cand_doc, score, n_chunks_hit
         FROM (
           SELECT qdoc, cdoc, score, n_chunks_hit, row_number() OVER (
             PARTITION BY qdoc ORDER BY score DESC, cdoc) AS rk
           FROM sco)
         CROSS JOIN (SELECT CAST(0 AS BIGINT) AS phase
                     UNION ALL SELECT CAST(1 AS BIGINT)) ph
         WHERE rk <= 5 ORDER BY ph.phase, query_doc, rk"""

  /** The four banding configurations' candidate-pair CTEs over `sigs`
    * (from Md5LshBandedSql) — shared by the exact (q201) and sampled
    * (q204) operating-point oracles.
    */
  private def lshCandCtes(src: String): String = LshCandCtesTpl
    .replace("FROM sigs,", s"FROM $src,")

  private val LshCandCtesTpl: String =
      """cand_2_8 AS MATERIALIZED (
           SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
           FROM (SELECT doc_id, i AS bidx, sig[i*8 + 1 : i*8 + 8] AS bandval
                 FROM sigs, unnest(generate_series(0, 1)) AS t(i)) a
           JOIN (SELECT doc_id, i AS bidx, sig[i*8 + 1 : i*8 + 8] AS bandval
                 FROM sigs, unnest(generate_series(0, 1)) AS t(i)) b
             ON a.bidx = b.bidx AND a.bandval = b.bandval AND a.doc_id < b.doc_id),
         cand_4_4 AS MATERIALIZED (
           SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
           FROM (SELECT doc_id, i AS bidx, sig[i*4 + 1 : i*4 + 4] AS bandval
                 FROM sigs, unnest(generate_series(0, 3)) AS t(i)) a
           JOIN (SELECT doc_id, i AS bidx, sig[i*4 + 1 : i*4 + 4] AS bandval
                 FROM sigs, unnest(generate_series(0, 3)) AS t(i)) b
             ON a.bidx = b.bidx AND a.bandval = b.bandval AND a.doc_id < b.doc_id),
         cand_8_2 AS MATERIALIZED (
           SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
           FROM (SELECT doc_id, i AS bidx, sig[i*2 + 1 : i*2 + 2] AS bandval
                 FROM sigs, unnest(generate_series(0, 7)) AS t(i)) a
           JOIN (SELECT doc_id, i AS bidx, sig[i*2 + 1 : i*2 + 2] AS bandval
                 FROM sigs, unnest(generate_series(0, 7)) AS t(i)) b
             ON a.bidx = b.bidx AND a.bandval = b.bandval AND a.doc_id < b.doc_id),
         cand_16_1 AS MATERIALIZED (
           SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
           FROM (SELECT doc_id, i AS bidx, sig[i*1 + 1 : i*1 + 1] AS bandval
                 FROM sigs, unnest(generate_series(0, 15)) AS t(i)) a
           JOIN (SELECT doc_id, i AS bidx, sig[i*1 + 1 : i*1 + 1] AS bandval
                 FROM sigs, unnest(generate_series(0, 15)) AS t(i)) b
             ON a.bidx = b.bidx AND a.bandval = b.bandval AND a.doc_id < b.doc_id)"""

  /** Unrolled DoReMi rounds (the q144/q147 discipline): w1 = uniform
    * ppm; per round r, the mixture unigram mix_r, its total, each
    * source's whole-bit cost mass under it, the clamped excess vs the
    * (round-free) self cost, and the renormalized multiplicative
    * update w_{r+1}. Every aggregate is MATERIALIZED — the chained
    * CTEs would otherwise re-expand exponentially.
    */
  /** The lq()/lqt() macros: DuckDB's copy of [[lqSql]]'s smooth
    * permille-bits log2 (one level of macro nesting — the exponential-
    * expansion caveat is about CHAINED macros).
    */
  private[graft] def doremiMacros: String =
    """CREATE OR REPLACE MACRO lqt(x) AS
         ((CASE WHEN len(bin(x)) - 1 >= 10
             THEN x // (CAST(1 AS BIGINT) << (len(bin(x)) - 11))
             ELSE x * (CAST(1 AS BIGINT) << (11 - len(bin(x)))) END
           - 1024) * 1000 // 1024);
       CREATE OR REPLACE MACRO lq(x) AS
         (CASE WHEN x <= 0 THEN 0 ELSE
           1000 * (len(bin(x)) - 1) + lqt(x)
             + (lqt(x) * (1000 - lqt(x))) // 3466 END);
    """

  private[graft] def doremiCtes: String = {
    val sb = new StringBuilder
    sb ++= """sc AS MATERIALIZED (
           SELECT source, tok, CAST(count(*) AS BIGINT) AS c FROM (
             SELECT source, unnest(string_split_regex(text, '\s+')) AS tok
             FROM documents)
           GROUP BY 1, 2),
         ns AS MATERIALIZED (
           SELECT source, CAST(sum(c) AS BIGINT) AS n_s,
             CAST(sum(c * lq(c)) AS BIGINT) AS selfmass
           FROM sc GROUP BY 1),
         selfc AS (
           SELECT source, n_s,
             CAST((n_s * lq(n_s) - selfmass) // n_s AS BIGINT) AS cself
           FROM ns),
         nsrc AS (SELECT CAST(count(*) AS BIGINT) AS k FROM ns),
         w1 AS (SELECT source, CAST(1000000 // nsrc.k AS BIGINT) AS w
                FROM ns CROSS JOIN nsrc)"""
    for (r <- 1 to DoremiRounds) {
      sb ++= s""",
         mix$r AS MATERIALIZED (
           SELECT sc.tok,
             CAST(sum(w.w * (sc.c * $DoremiScale // ns.n_s)) AS BIGINT)
               AS m
           FROM sc JOIN ns USING (source) JOIN w$r w USING (source)
           GROUP BY 1),
         mt$r AS (SELECT CAST(sum(m) AS BIGINT) AS mt FROM mix$r),
         mm$r AS MATERIALIZED (
           SELECT sc.source,
             CAST(sum(sc.c * lq(mix.m)) AS BIGINT) AS mm
           FROM sc JOIN mix$r mix USING (tok) GROUP BY 1),
         ex$r AS (
           SELECT s.source, w.w,
             greatest(CAST(0 AS BIGINT),
               CAST((s.n_s * lq(mt.mt) - mm.mm) // s.n_s - s.cself
                 AS BIGINT)) AS excess
           FROM selfc s JOIN mm$r mm USING (source)
             JOIN w$r w USING (source) CROSS JOIN mt$r mt),
         wp$r AS (
           SELECT source, w, excess,
             CAST(w * (1024 + excess // 2) // 1024 AS BIGINT) AS wraw
           FROM ex$r),
         wt$r AS (SELECT CAST(sum(wraw) AS BIGINT) AS t FROM wp$r),
         w${r + 1} AS (
           SELECT source,
             greatest(CAST(1 AS BIGINT),
               CAST(wraw * 1000000 // wt$r.t AS BIGINT)) AS w
           FROM wp$r CROSS JOIN wt$r)"""
    }
    sb.result()
  }

  private def q205OracleSql: String = {
    val rounds = (1 to DoremiRounds).map(r =>
      s"""SELECT CAST($r AS BIGINT) AS round, wp.source,
           wp.w AS w_ppm, wp.excess AS excess_permille,
           wn.w AS w_next_ppm
         FROM wp$r wp JOIN w${r + 1} wn USING (source)""")
      .mkString("\n         UNION ALL\n         ")
    s"""${doremiMacros}WITH $doremiCtes
         SELECT round, source, w_ppm, excess_permille, w_next_ppm FROM (
         $rounds)
         ORDER BY round, source"""
  }

  private def q206OracleSql: String =
    s"""${doremiMacros}WITH $doremiCtes,
         tot AS (SELECT CAST(sum(n_s) AS BIGINT) AS tt FROM ns),
         wfin AS (
           SELECT source, w AS w_ppm,
             CAST(w * tot.tt // 1000000 AS BIGINT) AS budget_tokens
           FROM w${DoremiRounds + 1} CROSS JOIN tot),
         pd AS (
           SELECT source, doc_id,
             CAST(len(string_split_regex(text, '\\s+')) AS BIGINT) AS nt,
             CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15)
               AS UBIGINT) AS hk
           FROM documents),
         cum AS (
           SELECT source, doc_id, nt,
             CAST(coalesce(sum(nt) OVER (PARTITION BY source
               ORDER BY hk, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS cum_before
           FROM pd),
         adm AS (
           SELECT c.source, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(c.nt) AS BIGINT) AS n_tokens
           FROM cum c JOIN wfin USING (source)
           WHERE cum_before < budget_tokens GROUP BY 1)
         SELECT w.source, w.w_ppm, w.budget_tokens,
           CAST(coalesce(a.n_docs, 0) AS BIGINT) AS n_docs_admitted,
           CAST(coalesce(a.n_tokens, 0) AS BIGINT) AS n_tokens_admitted,
           CAST(CASE WHEN w.budget_tokens = 0 THEN -1
             ELSE coalesce(a.n_tokens, 0) * 1000 // w.budget_tokens END
             AS BIGINT) AS fill_permille
         FROM wfin w LEFT JOIN adm a ON a.source = w.source
         ORDER BY w.source"""

  def oracles: Map[String, String] = Map(
    "q178_maxsim_chunks" -> maxSimOracleSql,
    "q209_maxsim_capped" -> q209OracleSql,
    "q205_doremi_weights" -> q205OracleSql,
    "q206_doremi_mixture" -> q206OracleSql,
    "q182_maxsim_store" -> maxSimOracleSql,
    "q203_maxsim_store_mutated" -> q203OracleSql,
    // q33/q34/q36 replay the JVM MurmurHash3-based signatures exactly
    // (DuckMacros.M32): the band-fold xxhash64 and the recheck's token
    // xxhash64 only matter through EQUALITY, so the oracle bands on the
    // raw signature slices and intersects token strings — identical
    // output modulo 64-bit collisions the q33 Scaladoc already concedes.
    "q36_winnow_fingerprints" ->
      (DuckMacros.M32 +
      s"""WITH toks0 AS (
           SELECT doc_id, string_split_regex(text, '\\s+') AS toks
           FROM documents),
         dtok AS (SELECT DISTINCT unnest(toks) AS tok FROM toks0),
         seeds AS (SELECT unnest([461845907]) AS sd),
         ${DuckMacros.M32Chain},
         tpos AS (
           SELECT doc_id, i, toks[i] AS tok
           FROM (SELECT doc_id, toks,
             unnest(generate_series(1, len(toks))) AS i FROM toks0)),
         hseq AS (
           SELECT t.doc_id, list(CAST(m.m32 AS BIGINT) ORDER BY t.i) AS hs
           FROM tpos t JOIN m32f m ON t.tok = m.tok GROUP BY 1),
         fps AS (
           SELECT doc_id,
             CASE WHEN len(hs) <= 4 THEN [list_aggregate(hs, 'min')]
             ELSE list_distinct(list_transform(generate_series(1, len(hs) - 3),
               i -> list_aggregate(hs[i:i+3], 'min'))) END AS fp
           FROM hseq)
         SELECT doc_id, CAST(len(fp) AS BIGINT) AS n_fp,
           list_aggregate(fp, 'min') AS min_fp,
           list_aggregate(fp, 'max') AS max_fp
         FROM fps ORDER BY doc_id"""),
    "q34_simhash_pairs" ->
      (DuckMacros.M32 +
      s"""WITH toks0 AS (
           SELECT doc_id, string_split_regex(text, '\\s+') AS toks
           FROM documents WHERE doc_id % 5 = 0),
         dtok AS (SELECT DISTINCT unnest(toks) AS tok FROM toks0),
         seeds AS (SELECT unnest([2538058380, 2246822507]) AS sd),
         ${DuckMacros.M32Chain},
         h64 AS (
           SELECT tok,
             max(CASE WHEN sd = 2538058380 THEN m32 END) * 4294967296
               + max(CASE WHEN sd = 2246822507 THEN m32 END) AS h
           FROM m32f GROUP BY 1),
         trows AS (
           SELECT t.doc_id, h64.h
           FROM (SELECT doc_id, unnest(toks) AS tok FROM toks0) t
           JOIN h64 USING (tok)),
         votes AS (
           SELECT doc_id, b,
             sum(CASE WHEN (CAST(h AS UBIGINT) >> b) & 1 = 1
               THEN 1 ELSE -1 END) AS acc
           FROM trows CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS b)
           GROUP BY 1, 2),
         shv AS (
           SELECT doc_id,
             CAST(sum(CASE WHEN acc > 0 THEN 1::HUGEINT << b
               ELSE 0::HUGEINT END) AS UBIGINT) AS sh
           FROM votes GROUP BY 1),
         banded AS (
           SELECT doc_id, sh, band,
             (sh >> CAST(band*16 AS INTEGER)) & 65535 AS bandval
           FROM shv CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS band)),
         cand AS (
           SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2,
             a.sh AS sh1, b.sh AS sh2
           FROM banded a JOIN banded b
             ON a.band = b.band AND a.bandval = b.bandval
               AND a.doc_id < b.doc_id)
         SELECT id1, id2, CAST(bit_count(xor(sh1, sh2)) AS BIGINT) AS hamming
         FROM cand WHERE bit_count(xor(sh1, sh2)) <= 16
         ORDER BY id1, id2"""),
    "q33_minhash_lsh_pairs" ->
      (DuckMacros.Sm64 + DuckMacros.M32 +
      s"""WITH toks0 AS (
           SELECT doc_id, string_split_regex(text, '\\s+') AS toks
           FROM documents WHERE doc_id % 5 = 0),
         dtok AS (SELECT DISTINCT unnest(toks) AS tok FROM toks0),
         seeds AS (SELECT unnest([2538058380, 2246822507]) AS sd),
         ${DuckMacros.M32Chain},
         h64 AS (
           SELECT tok,
             max(CASE WHEN sd = 2538058380 THEN m32 END) * 4294967296
               + max(CASE WHEN sd = 2246822507 THEN m32 END) AS h
           FROM m32f GROUP BY 1),
         dset AS (SELECT DISTINCT doc_id, unnest(toks) AS tok FROM toks0),
         szs AS (SELECT doc_id, count(*) AS sz FROM dset GROUP BY 1),
         sigrows AS (
           SELECT d.doc_id, i.i,
             xor(sm64((h64.h + (i.i::HUGEINT * 11400714819323198485)
                 % 18446744073709551616) % 18446744073709551616)::UBIGINT,
               9223372036854775808::UBIGINT) AS key
           FROM dset d JOIN h64 USING (tok)
           CROSS JOIN (SELECT unnest(generate_series(0, 31)) AS i) i),
         sig AS (SELECT doc_id, i, min(key) AS k FROM sigrows GROUP BY 1, 2),
         sigl AS (SELECT doc_id, list(k ORDER BY i) AS sig FROM sig GROUP BY 1),
         bands AS (
           SELECT s.doc_id, z.sz, b.b,
             array_to_string(s.sig[b.b*4+1:b.b*4+4], ',') AS bk
           FROM sigl s JOIN szs z USING (doc_id)
           CROSS JOIN (SELECT unnest([0, 1, 2, 3, 4, 5, 6, 7]) AS b) b),
         cand AS (
           SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
           FROM bands a JOIN bands b
             ON a.b = b.b AND a.bk = b.bk AND a.doc_id < b.doc_id
               AND 5*least(a.sz, b.sz) > 4*greatest(a.sz, b.sz)),
         sets AS (SELECT doc_id, list(tok) AS st, count(*) AS sz
           FROM dset GROUP BY 1),
         j AS (
           SELECT id1, id2,
             CAST(len(list_intersect(s1.st, s2.st)) AS DOUBLE) AS inter,
             CAST(s1.sz + s2.sz AS DOUBLE) AS stot
           FROM cand
           JOIN sets s1 ON id1 = s1.doc_id
           JOIN sets s2 ON id2 = s2.doc_id)
         SELECT id1, id2, round(inter / (stot - inter), 4) AS jaccard
         FROM j WHERE inter / (stot - inter) > 0.8 ORDER BY id1, id2"""),
    "q70_hash_split" ->
      """WITH b AS (
           SELECT doc_id,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::UBIGINT % 100
               AS bucket
           FROM documents)
         SELECT CASE WHEN bucket < 80 THEN 'train'
                     WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split,
           CAST(count(*) AS BIGINT) AS n_docs,
           min(doc_id) AS min_id, max(doc_id) AS max_id
         FROM b GROUP BY 1 ORDER BY 1""",
    "q199_data_map" ->
      """WITH tk AS (
           SELECT doc_id, source, CASE WHEN lang = 'en' THEN 1 ELSE -1 END AS y,
             unnest(string_split_regex(text, '\s+')) AS tok
           FROM documents),
         sf AS (
           SELECT doc_id, any_value(source) AS source, any_value(y) AS y,
             CAST(('0x' || substr(md5(tok), 1, 15))::UBIGINT % 32 AS BIGINT) AS dim,
             CAST(count(*) AS BIGINT) AS cnt
           FROM tk GROUP BY doc_id, dim),
         f AS MATERIALIZED (
           SELECT * FROM sf
           UNION ALL
           SELECT DISTINCT doc_id, source, y, CAST(32 AS BIGINT) AS dim,
             CAST(1 AS BIGINT) AS cnt FROM tk),
         dims AS (SELECT unnest(generate_series(0, 32)) AS dim),
         tr AS MATERIALIZED (SELECT * FROM f WHERE doc_id % 5 <> 0),
         w1 AS MATERIALIZED (
           SELECT d.dim, COALESCE(CAST(sum(tr.y * tr.cnt) AS BIGINT), 0) AS w
           FROM dims d LEFT JOIN tr ON tr.dim = d.dim GROUP BY 1),
         m2 AS MATERIALIZED (
           SELECT tr.doc_id, any_value(tr.y) AS y, CAST(sum(tr.cnt * w1.w) AS BIGINT) AS dot
           FROM tr JOIN w1 ON w1.dim = tr.dim GROUP BY 1),
         mis2 AS MATERIALIZED (SELECT doc_id FROM m2 WHERE y * dot <= 0),
         d2 AS (SELECT t.dim, CAST(sum(t.y * t.cnt) AS BIGINT) AS dw
                FROM tr t JOIN mis2 m ON m.doc_id = t.doc_id GROUP BY 1),
         w2 AS MATERIALIZED (
           SELECT w1.dim, w1.w + COALESCE(d2.dw, 0) AS w
           FROM w1 LEFT JOIN d2 ON d2.dim = w1.dim),
         m3 AS MATERIALIZED (
           SELECT tr.doc_id, any_value(tr.y) AS y, CAST(sum(tr.cnt * w2.w) AS BIGINT) AS dot
           FROM tr JOIN w2 ON w2.dim = tr.dim GROUP BY 1),
         mis3 AS MATERIALIZED (SELECT doc_id FROM m3 WHERE y * dot <= 0),
         d3 AS (SELECT t.dim, CAST(sum(t.y * t.cnt) AS BIGINT) AS dw
                FROM tr t JOIN mis3 m ON m.doc_id = t.doc_id GROUP BY 1),
         w3 AS MATERIALIZED (
           SELECT w2.dim, w2.w + COALESCE(d3.dw, 0) AS w
           FROM w2 LEFT JOIN d3 ON d3.dim = w2.dim),
         dots AS MATERIALIZED (
           SELECT tr.doc_id, any_value(tr.source) AS source, any_value(tr.y) AS y,
             CAST(sum(tr.cnt * w1.w) AS BIGINT) AS dot1,
             CAST(sum(tr.cnt * w2.w) AS BIGINT) AS dot2,
             CAST(sum(tr.cnt * w3.w) AS BIGINT) AS dot3
           FROM tr
           JOIN w1 ON w1.dim = tr.dim
           JOIN w2 ON w2.dim = tr.dim
           JOIN w3 ON w3.dim = tr.dim
           GROUP BY tr.doc_id),
         nc AS (
           SELECT doc_id, source, y,
             (CASE WHEN y * dot1 > 0 THEN 1 ELSE 0 END
              + CASE WHEN y * dot2 > 0 THEN 1 ELSE 0 END
              + CASE WHEN y * dot3 > 0 THEN 1 ELSE 0 END) AS n_correct
           FROM dots),
         cells AS (
           SELECT source, CAST(n_correct AS BIGINT) AS n_correct,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_pos_label
           FROM nc GROUP BY 1, 2),
         withall AS (
           SELECT * FROM cells
           UNION ALL
           SELECT '__all__' AS source, n_correct, CAST(sum(n_docs) AS BIGINT),
             CAST(sum(n_pos_label) AS BIGINT)
           FROM cells GROUP BY 2),
         tot AS (SELECT source, CAST(sum(n_docs) AS BIGINT) AS n_src
                 FROM withall GROUP BY 1)
         SELECT w.source, w.n_correct, w.n_docs, w.n_pos_label,
           CAST((w.n_docs * 1000) // t.n_src AS BIGINT) AS share_permille
         FROM withall w JOIN tot t ON t.source = w.source
         ORDER BY w.source, w.n_correct""",
    "q196_auc_exact" ->
      """WITH ef AS (
           SELECT doc_id, source,
             CAST(len(list_distinct(string_split_regex(text, '\s+'))) * 1000
               // len(string_split_regex(text, '\s+')) AS BIGINT) AS score,
             CASE WHEN len(string_split_regex(text, '\s+')) BETWEEN 20 AND 1000
               THEN 1 ELSE 0 END AS y
           FROM documents),
         cnt AS (
           SELECT source, score, CAST(count(*) AS BIGINT) AS c,
             CAST(sum(y) AS BIGINT) AS c_pos
           FROM ef GROUP BY 1, 2),
         allc AS (
           SELECT '__all__' AS source, score, CAST(sum(c) AS BIGINT) AS c,
             CAST(sum(c_pos) AS BIGINT) AS c_pos
           FROM cnt GROUP BY 2),
         u AS (SELECT * FROM cnt UNION ALL SELECT * FROM allc),
         w AS (
           SELECT source, score, c, c_pos,
             COALESCE(sum(c) OVER (PARTITION BY source ORDER BY score
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
           FROM u),
         a AS (
           SELECT source, CAST(sum(c) AS BIGINT) AS n,
             CAST(sum(c_pos) AS BIGINT) AS n_pos,
             CAST(sum(c_pos * (cum * 2 + c + 1)) AS BIGINT) AS r2
           FROM w GROUP BY 1)
         SELECT source, n, n_pos, n - n_pos AS n_neg,
           CAST(CASE WHEN n_pos = 0 OR n - n_pos = 0 THEN -1
             ELSE (1000 * (r2 - n_pos * (n_pos + 1)))
               // (2 * n_pos * (n - n_pos)) END AS BIGINT) AS auc_permille
         FROM a ORDER BY source""",
    "q197_reliability_table" ->
      """WITH ef AS (
           SELECT doc_id, source,
             CAST(len(list_distinct(string_split_regex(text, '\s+'))) * 1000
               // len(string_split_regex(text, '\s+')) AS BIGINT) AS score,
             CASE WHEN len(string_split_regex(text, '\s+')) BETWEEN 20 AND 1000
               THEN 1 ELSE 0 END AS y
           FROM documents)
         SELECT CAST((score * 10) // 1001 AS BIGINT) AS bucket,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(y) AS BIGINT) AS n_pos,
           CAST((sum(y) * 1000) // count(*) AS BIGINT) AS pos_rate_permille,
           CAST(sum(score) // count(*) AS BIGINT) AS mean_score
         FROM ef GROUP BY 1 ORDER BY 1""",
    "q198_threshold_calibration" ->
      """WITH ef AS (
           SELECT doc_id, source,
             CAST(len(list_distinct(string_split_regex(text, '\s+'))) * 1000
               // len(string_split_regex(text, '\s+')) AS BIGINT) AS score,
             CASE WHEN len(string_split_regex(text, '\s+')) BETWEEN 20 AND 1000
               THEN 1 ELSE 0 END AS y
           FROM documents),
         ef2 AS (
           SELECT * FROM ef
           UNION ALL
           SELECT doc_id, '__all__' AS source, score, y FROM ef),
         np AS (
           SELECT source, CAST(count(*) AS BIGINT) AS n_pos,
             CAST((9 * count(*) + 9) // 10 AS BIGINT) AS k
           FROM ef2 WHERE y = 1 GROUP BY 1),
         r AS (
           SELECT source, score,
             CAST(row_number() OVER (PARTITION BY source
               ORDER BY score, doc_id) AS BIGINT) AS r
           FROM ef2 WHERE y = 1),
         t AS (
           SELECT r.source, np.n_pos, np.k, r.score AS threshold
           FROM r JOIN np ON np.source = r.source AND r.r = np.k)
         SELECT t.source, t.n_pos, t.threshold,
           CAST(sum(CASE WHEN ef.score <= t.threshold THEN 1 ELSE 0 END) AS BIGINT)
             AS n_kept,
           CAST(sum(CASE WHEN ef.score <= t.threshold AND ef.y = 0 THEN 1 ELSE 0 END)
             AS BIGINT) AS n_false_admit,
           CAST(((sum(CASE WHEN ef.score <= t.threshold THEN 1 ELSE 0 END)
                - sum(CASE WHEN ef.score <= t.threshold AND ef.y = 0 THEN 1 ELSE 0 END))
               * 1000)
             // sum(CASE WHEN ef.score <= t.threshold THEN 1 ELSE 0 END) AS BIGINT)
             AS precision_permille
         FROM ef2 ef JOIN t ON t.source = ef.source
         GROUP BY 1, 2, 3 ORDER BY 1""",
    "q193_labeler_agreement" ->
      """WITH base AS (
           SELECT doc_id, source,
             string_split_regex(text, '\s+') AS toks
           FROM documents),
         lab AS (
           SELECT doc_id, source,
             CASE WHEN len(toks) BETWEEN 20 AND 1000 THEN 1 ELSE 0 END AS la,
             CASE WHEN len(list_filter(toks,
               t -> t IN ('a', 'the', 'of', 'and', 'to'))) * 25 >= len(toks)
               THEN 1 ELSE 0 END AS lb,
             CASE WHEN len(list_distinct(toks)) * 2 >= len(toks)
               THEN 1 ELSE 0 END AS lc
           FROM base),
         pairs AS (
           SELECT source, 'A_B' AS pair, la AS x, lb AS y FROM lab
           UNION ALL
           SELECT source, 'A_C', la, lc FROM lab
           UNION ALL
           SELECT source, 'B_C', lb, lc FROM lab),
         cells AS (
           SELECT pair, source, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN x = 1 AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n11,
             CAST(sum(CASE WHEN x = 0 AND y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n00,
             CAST(sum(CASE WHEN x = 1 AND y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n10,
             CAST(sum(CASE WHEN x = 0 AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n01
           FROM pairs GROUP BY 1, 2),
         allcells AS (
           SELECT * FROM cells
           UNION ALL
           SELECT pair, '__all__' AS source, CAST(sum(n) AS BIGINT),
             CAST(sum(n11) AS BIGINT), CAST(sum(n00) AS BIGINT),
             CAST(sum(n10) AS BIGINT), CAST(sum(n01) AS BIGINT)
           FROM cells GROUP BY 1),
         k AS (
           SELECT pair, source, n, n11 + n00 AS n_agree,
             (n11 + n10) * (n11 + n01) + (n00 + n01) * (n00 + n10) AS pe_num
           FROM allcells)
         SELECT pair, source, n, CAST(n_agree AS BIGINT) AS n_agree,
           CAST(n_agree * 1000 // n AS BIGINT) AS agree_permille,
           CAST(CASE WHEN n * n - pe_num = 0 THEN 0
             ELSE CASE WHEN n * n_agree - pe_num < 0 THEN -1 ELSE
               CASE WHEN n * n_agree - pe_num > 0 THEN 1 ELSE 0 END END
               * ((1000 * abs(n * n_agree - pe_num)) // (n * n - pe_num))
             END AS BIGINT) AS kappa_permille
         FROM k ORDER BY pair, source""",
    "q192_quality_train" ->
      """WITH tk AS (
           SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE -1 END AS y,
             unnest(string_split_regex(text, '\s+')) AS tok
           FROM documents),
         sf AS (
           SELECT doc_id, any_value(y) AS y,
             CAST(('0x' || substr(md5(tok), 1, 15))::UBIGINT % 32 AS BIGINT) AS dim,
             CAST(count(*) AS BIGINT) AS cnt
           FROM tk GROUP BY doc_id, dim),
         f AS MATERIALIZED (
           SELECT * FROM sf
           UNION ALL
           SELECT DISTINCT doc_id, y, CAST(32 AS BIGINT) AS dim, CAST(1 AS BIGINT) AS cnt FROM tk),
         dims AS (SELECT unnest(generate_series(0, 32)) AS dim),
         tr AS MATERIALIZED (SELECT * FROM f WHERE doc_id % 5 <> 0),
         te AS MATERIALIZED (SELECT * FROM f WHERE doc_id % 5 = 0),
         ntr AS (SELECT count(DISTINCT doc_id) AS n FROM tr),
         nte AS (SELECT count(DISTINCT doc_id) AS n FROM te),
         w1 AS MATERIALIZED (
           SELECT d.dim, COALESCE(CAST(sum(tr.y * tr.cnt) AS BIGINT), 0) AS w
           FROM dims d LEFT JOIN tr ON tr.dim = d.dim GROUP BY 1),
         t1 AS (
           SELECT count(*) AS n_err FROM (
             SELECT te.doc_id, any_value(te.y) AS y, CAST(sum(te.cnt * w1.w) AS BIGINT) AS dot
             FROM te JOIN w1 ON w1.dim = te.dim GROUP BY 1) WHERE y * dot <= 0),
         m2 AS MATERIALIZED (
           SELECT tr.doc_id, any_value(tr.y) AS y, CAST(sum(tr.cnt * w1.w) AS BIGINT) AS dot
           FROM tr JOIN w1 ON w1.dim = tr.dim GROUP BY 1),
         mis2 AS MATERIALIZED (SELECT doc_id FROM m2 WHERE y * dot <= 0),
         d2 AS (SELECT t.dim, CAST(sum(t.y * t.cnt) AS BIGINT) AS dw
                FROM tr t JOIN mis2 m ON m.doc_id = t.doc_id GROUP BY 1),
         w2 AS MATERIALIZED (
           SELECT w1.dim, w1.w + COALESCE(d2.dw, 0) AS w
           FROM w1 LEFT JOIN d2 ON d2.dim = w1.dim),
         t2 AS (
           SELECT count(*) AS n_err FROM (
             SELECT te.doc_id, any_value(te.y) AS y, CAST(sum(te.cnt * w2.w) AS BIGINT) AS dot
             FROM te JOIN w2 ON w2.dim = te.dim GROUP BY 1) WHERE y * dot <= 0),
         m3 AS MATERIALIZED (
           SELECT tr.doc_id, any_value(tr.y) AS y, CAST(sum(tr.cnt * w2.w) AS BIGINT) AS dot
           FROM tr JOIN w2 ON w2.dim = tr.dim GROUP BY 1),
         mis3 AS MATERIALIZED (SELECT doc_id FROM m3 WHERE y * dot <= 0),
         d3 AS (SELECT t.dim, CAST(sum(t.y * t.cnt) AS BIGINT) AS dw
                FROM tr t JOIN mis3 m ON m.doc_id = t.doc_id GROUP BY 1),
         w3 AS MATERIALIZED (
           SELECT w2.dim, w2.w + COALESCE(d3.dw, 0) AS w
           FROM w2 LEFT JOIN d3 ON d3.dim = w2.dim),
         t3 AS (
           SELECT count(*) AS n_err FROM (
             SELECT te.doc_id, any_value(te.y) AS y, CAST(sum(te.cnt * w3.w) AS BIGINT) AS dot
             FROM te JOIN w3 ON w3.dim = te.dim GROUP BY 1) WHERE y * dot <= 0),
         m4 AS (
           SELECT tr.doc_id, any_value(tr.y) AS y, CAST(sum(tr.cnt * w3.w) AS BIGINT) AS dot
           FROM tr JOIN w3 ON w3.dim = tr.dim GROUP BY 1),
         mis4n AS (SELECT count(*) AS n FROM m4 WHERE y * dot <= 0),
         summary AS MATERIALIZED (
           SELECT 1 AS t, (SELECT count(*) FROM mis2) AS trainerr,
             (SELECT n_err FROM t1) AS testerr,
             (SELECT CAST(sum(abs(w)) AS BIGINT) FROM w1) AS l1
           UNION ALL
           SELECT 2, (SELECT count(*) FROM mis3), (SELECT n_err FROM t2),
             (SELECT CAST(sum(abs(w)) AS BIGINT) FROM w2)
           UNION ALL
           SELECT 3, (SELECT n FROM mis4n), (SELECT n_err FROM t3),
             (SELECT CAST(sum(abs(w)) AS BIGINT) FROM w3)),
         pocket AS (SELECT * FROM summary ORDER BY trainerr, t LIMIT 1)
         SELECT * FROM (
           SELECT CAST(-1 AS BIGINT) AS epoch, (SELECT n FROM ntr) AS n_train,
             CAST(p.trainerr AS BIGINT) AS n_miscl,
             CAST(p.trainerr * 1000 // (SELECT n FROM ntr) AS BIGINT) AS train_err_permille,
             CAST(p.testerr * 1000 // (SELECT n FROM nte) AS BIGINT) AS test_err_permille,
             CAST(p.l1 AS BIGINT) AS w_l1
           FROM pocket p
           UNION ALL
           SELECT CAST(1 AS BIGINT), (SELECT n FROM ntr), (SELECT n FROM ntr),
             CAST(1000 AS BIGINT),
             CAST((SELECT n_err FROM t1) * 1000 // (SELECT n FROM nte) AS BIGINT),
             (SELECT CAST(sum(abs(w)) AS BIGINT) FROM w1)
           UNION ALL
           SELECT 2, (SELECT n FROM ntr), (SELECT count(*) FROM mis2),
             CAST((SELECT count(*) FROM mis2) * 1000 // (SELECT n FROM ntr) AS BIGINT),
             CAST((SELECT n_err FROM t2) * 1000 // (SELECT n FROM nte) AS BIGINT),
             (SELECT CAST(sum(abs(w)) AS BIGINT) FROM w2)
           UNION ALL
           SELECT 3, (SELECT n FROM ntr), (SELECT count(*) FROM mis3),
             CAST((SELECT count(*) FROM mis3) * 1000 // (SELECT n FROM ntr) AS BIGINT),
             CAST((SELECT n_err FROM t3) * 1000 // (SELECT n FROM nte) AS BIGINT),
             (SELECT CAST(sum(abs(w)) AS BIGINT) FROM w3))
         ORDER BY epoch""",
    "q98_feature_hashing" ->
      """WITH t AS (
           SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS tok
           FROM documents),
         dd AS (
           SELECT doc_id,
             CAST(('0x' || substr(md5(tok), 1, 15))::UBIGINT % 64 AS BIGINT)
               AS dim,
             CAST(count(*) AS BIGINT) AS cnt
           FROM t GROUP BY 1, 2)
         SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS l1,
           CAST(count(*) AS BIGINT) AS nnz,
           CAST(sum(CASE WHEN dim = 0 THEN cnt ELSE 0 END) AS BIGINT) AS f0,
           CAST(sum(CASE WHEN dim = 31 THEN cnt ELSE 0 END) AS BIGINT) AS f31,
           CAST(sum(CASE WHEN dim = 63 THEN cnt ELSE 0 END) AS BIGINT) AS f63
         FROM dd GROUP BY 1 ORDER BY 1""",
    "q80_doc_chunking" ->
      """WITH t AS (
           SELECT doc_id, len(string_split_regex(text, '\s+')) AS n_tok
           FROM documents),
         e AS (
           SELECT doc_id, n_tok, unnest(range(0, n_tok, 48)) AS start
           FROM t WHERE n_tok > 0)
         SELECT doc_id, CAST(start // 48 AS BIGINT) AS chunk_id,
           CAST(least(64, n_tok - start) AS BIGINT) AS chunk_len
         FROM e ORDER BY doc_id, chunk_id""",
    "q77_native_pivot" -> {
      val cols = (0 until 20).map(i =>
        s"CAST(sum(CASE WHEN source = 'src$i' THEN 1 ELSE 0 END) AS BIGINT) AS src$i")
        .mkString(",\n           ")
      s"""SELECT lang,
           $cols
         FROM documents GROUP BY 1 ORDER BY 1"""
    },
    "q78_bounded_topk_agg" ->
      """WITH r AS (
           SELECT lang, doc_id,
             row_number() OVER (PARTITION BY lang ORDER BY doc_id) AS rn
           FROM documents),
         s AS (
           SELECT lang,
             string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS smallest
           FROM r WHERE rn <= 5 GROUP BY 1),
         t AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs
               FROM documents GROUP BY 1)
         SELECT s.lang, smallest, n_docs FROM s JOIN t ON s.lang = t.lang
         ORDER BY 1""",
    "q74_stratified_sample" ->
      """WITH b AS (
           SELECT lang,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::UBIGINT % 100
               AS bkt,
             CASE WHEN lang = 'en' THEN 10 ELSE 50 END AS rate
           FROM documents)
         SELECT lang, CAST(count(*) AS BIGINT) AS n_total,
           CAST(sum(CASE WHEN bkt < rate THEN 1 ELSE 0 END) AS BIGINT)
             AS n_kept
         FROM b GROUP BY 1 ORDER BY 1""",
    "q73_seq_pack" ->
      """WITH t AS (
           SELECT doc_id, len(string_split_regex(text, '\s+')) AS n_tok
           FROM documents),
         c AS (
           SELECT doc_id, n_tok,
             COALESCE(sum(n_tok) OVER (ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS cum_before
           FROM t)
         SELECT CAST(cum_before // 4096 AS BIGINT) AS bin,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS sum_tokens
         FROM c GROUP BY 1 ORDER BY 1""",
    "q71_regex_redact" ->
      """SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(len(regexp_extract_all(text, 'ta[a-z]+'))) AS BIGINT)
             AS n_matches,
           CAST(sum(length(regexp_replace(text, 'ta[a-z]+', '<X>', 'g')))
             AS BIGINT) AS redacted_chars
         FROM documents GROUP BY 1 ORDER BY 1""",
    "q65_pipeline" ->
      """WITH dedup AS (
           SELECT min(doc_id) AS doc_id, text FROM documents GROUP BY text),
         qual AS (
           SELECT doc_id, string_split_regex(text, '\s+') AS toks,
             len(string_split_regex(text, '\s+')) AS n_tokens
           FROM dedup
           WHERE len(string_split_regex(text, '\s+')) BETWEEN 20 AND 1000),
         sc AS (
           SELECT doc_id, n_tokens,
             len(list_filter(toks, t -> t IN ('a','the','of','and','to','in','is'))) AS sc_en,
             len(list_filter(toks, t -> t IN ('der','die','das','und','ist','ein'))) AS sc_de,
             len(list_filter(toks, t -> t IN ('el','la','los','de','y','es','un'))) AS sc_es,
             len(list_filter(toks, t -> t IN ('le','la','les','et','est','un','des'))) AS sc_fr
           FROM qual),
         lab AS (
           SELECT doc_id, n_tokens,
             CASE WHEN greatest(0, sc_en, sc_de, sc_es, sc_fr) = 0 THEN 'unknown'
                  WHEN sc_de = greatest(0, sc_en, sc_de, sc_es, sc_fr) THEN 'de'
                  WHEN sc_en = greatest(0, sc_en, sc_de, sc_es, sc_fr) THEN 'en'
                  WHEN sc_es = greatest(0, sc_en, sc_de, sc_es, sc_fr) THEN 'es'
                  ELSE 'fr' END AS predicted
           FROM sc)
         SELECT predicted, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
           round(avg(n_tokens), 4) AS avg_tokens
         FROM lab GROUP BY 1 ORDER BY 1""",
    "q28_token_stats" ->
      """SELECT doc_id,
         CAST(len(string_split_regex(text, '\s+')) AS BIGINT) AS n_tokens,
         CAST(len(list_distinct(string_split_regex(text, '\s+'))) AS BIGINT) AS n_distinct,
         CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]|[^a-z0-9 ]')) AS BIGINT) AS n_bpeish,
         round(CAST(length(replace(text, ' ', '')) AS DOUBLE)
           / len(string_split_regex(text, '\s+')), 4) AS avg_tok_len
         FROM documents ORDER BY doc_id""",
    "q29_quality_score" ->
      """SELECT doc_id,
         round(CAST(len(list_filter(string_split_regex(text, '\s+'),
             t -> t IN ('a', 'the', 'of', 'and', 'to'))) AS DOUBLE)
           / len(string_split_regex(text, '\s+')), 4) AS stop_ratio,
         round(CAST(len(list_distinct(string_split_regex(text, '\s+'))) AS DOUBLE)
           / len(string_split_regex(text, '\s+')), 4) AS ttr,
         len(string_split_regex(text, '\s+')) BETWEEN 20 AND 1000 AS keep
         FROM documents ORDER BY doc_id""",
    "q30_lang_stats" ->
      """SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
         round(avg(n_chars), 4) AS avg_chars,
         round(avg(len(string_split_regex(text, '\s+'))), 4) AS avg_tokens,
         CAST(count(DISTINCT source) AS BIGINT) AS n_sources
         FROM documents GROUP BY 1 ORDER BY 1""",
    "q31_dedup_exact" ->
      """SELECT min(doc_id) AS doc_id, CAST(count(*) AS BIGINT) AS n_copies,
         CAST(length(text) AS BIGINT) AS text_len
         FROM documents GROUP BY text ORDER BY doc_id""",
    "q32_ngram_jaccard" ->
      """WITH base AS (
           SELECT doc_id, list_distinct(string_split_regex(text, '\s+')) AS s
           FROM documents WHERE doc_id % 5 = 0),
         toks AS (SELECT doc_id, unnest(s) AS tok FROM base),
         sizes AS (SELECT doc_id, len(s) AS sz FROM base),
         inter AS (
           SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS i
           FROM toks a JOIN toks b ON a.tok = b.tok AND a.doc_id < b.doc_id
           GROUP BY 1, 2)
         SELECT id1, id2,
           round(CAST(i AS DOUBLE) / (s1.sz + s2.sz - i), 4) AS jaccard
         FROM inter
         JOIN sizes s1 ON s1.doc_id = id1
         JOIN sizes s2 ON s2.doc_id = id2
         WHERE CAST(i AS DOUBLE) / (s1.sz + s2.sz - i) > 0.8
         ORDER BY id1, id2""",
    "q134_setsim_prefix_join" ->
      """WITH base AS (
           SELECT doc_id, list_distinct(string_split_regex(text, '\s+')) AS s
           FROM documents),
         toks AS (
           SELECT doc_id, CAST(len(s) AS BIGINT) AS sz, unnest(s) AS tok
           FROM base),
         szs AS (SELECT doc_id, CAST(len(s) AS BIGINT) AS sz FROM base),
         rarity AS (SELECT tok, count(*) AS tok_df FROM toks GROUP BY tok),
         pref AS (
           SELECT doc_id, sz, tok FROM (
             SELECT t.doc_id, t.sz, t.tok,
               row_number() OVER (PARTITION BY t.doc_id
                 ORDER BY r.tok_df, t.tok) AS pos
             FROM toks t JOIN rarity r USING (tok)) p
           WHERE pos <= sz - ((19 * sz + 19) // 20) + 1),
         cand AS (
           SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
           FROM pref a JOIN toks b ON a.tok = b.tok AND a.doc_id < b.doc_id
            AND b.sz * 20 >= a.sz * 19 AND a.sz * 20 >= b.sz * 19),
         inter AS (
           SELECT c.id1, c.id2, count(*) AS i
           FROM cand c
           JOIN toks x ON x.doc_id = c.id1
           JOIN toks y ON y.doc_id = c.id2 AND y.tok = x.tok
           GROUP BY 1, 2)
         SELECT n.id1, n.id2, CAST(n.i AS BIGINT) AS inter,
           CAST(s1.sz + s2.sz - n.i AS BIGINT) AS un,
           CAST((1000 * n.i) // (s1.sz + s2.sz - n.i) AS BIGINT) AS permille
         FROM inter n
         JOIN szs s1 ON s1.doc_id = n.id1
         JOIN szs s2 ON s2.doc_id = n.id2
         WHERE n.i * 20 >= (s1.sz + s2.sz - n.i) * 19
         ORDER BY id1, id2""",
    "q136_dup_span_coverage" ->
      """WITH t AS (
           SELECT doc_id, string_split_regex(text, '\s+') AS toks
           FROM documents),
         w AS (
           SELECT doc_id,
             unnest(list_transform(generate_series(1, len(toks) - 7),
               i -> substring(md5(array_to_string(toks[i:i+7], ' ')), 1, 16))) AS h
           FROM t WHERE len(toks) >= 8),
         d AS (SELECT h FROM w GROUP BY h
               HAVING count(DISTINCT doc_id) >= 2),
         per AS (
           SELECT w.doc_id, CAST(count(*) AS BIGINT) AS n_windows,
             CAST(count(d.h) AS BIGINT) AS n_dup
           FROM w LEFT JOIN d ON w.h = d.h GROUP BY 1)
         SELECT doc_id, n_windows, n_dup,
           CAST((1000 * n_dup) // n_windows AS BIGINT) AS dup_permille
         FROM per WHERE 2 * n_dup >= n_windows
         ORDER BY dup_permille DESC, doc_id""",
    "q143_span_dedup_budget" ->
      """WITH t AS (
           SELECT doc_id, source, string_split_regex(text, '\s+') AS toks
           FROM documents),
         w AS (
           SELECT doc_id, source,
             unnest(generate_series(1, len(toks) - 7)) AS i,
             unnest(list_transform(generate_series(1, len(toks) - 7),
               j -> substring(md5(array_to_string(toks[j:j+7], ' ')), 1, 16))) AS h
           FROM t WHERE len(toks) >= 8),
         nd AS (SELECT h FROM w GROUP BY h
                HAVING count(DISTINCT doc_id) >= 2),
         dw AS (SELECT w.doc_id, w.source, w.i
                FROM w JOIN nd ON w.h = nd.h),
         cov AS (
           SELECT doc_id, source,
             CAST(sum(CASE WHEN prev IS NULL THEN 8
                           ELSE least(8, i - prev) END) AS BIGINT) AS covered
           FROM (SELECT doc_id, source, i,
                   lag(i) OVER (PARTITION BY doc_id ORDER BY i) AS prev
                 FROM dw) x
           GROUP BY 1, 2),
         csrc AS (SELECT source, CAST(sum(covered) AS BIGINT) AS cv
                  FROM cov GROUP BY 1)
         SELECT t.source, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(len(t.toks)) AS BIGINT) AS n_tokens,
           CAST(coalesce(any_value(csrc.cv), 0) AS BIGINT) AS covered_tokens,
           CAST(1000 * coalesce(any_value(csrc.cv), 0) // sum(len(t.toks))
             AS BIGINT) AS removable_permille
         FROM t LEFT JOIN csrc ON t.source = csrc.source
         GROUP BY 1 ORDER BY 1""",
    "q154_span_dedup_apply" ->
      """WITH t AS (
           SELECT doc_id, source, string_split_regex(text, '\s+') AS toks
           FROM documents),
         w AS (
           SELECT doc_id,
             unnest(generate_series(1, len(toks) - 7)) AS i,
             unnest(list_transform(generate_series(1, len(toks) - 7),
               j -> substring(md5(array_to_string(toks[j:j+7], ' ')), 1, 16))) AS h
           FROM t WHERE len(toks) >= 8),
         nd AS (SELECT h FROM w GROUP BY h
                HAVING count(DISTINCT doc_id) >= 2),
         dw AS (SELECT w.doc_id, w.i FROM w JOIN nd ON w.h = nd.h),
         cov AS (
           SELECT DISTINCT doc_id, i + g AS p
           FROM dw, generate_series(0, 7) AS gs(g)),
         pos AS (
           SELECT doc_id, unnest(toks) AS tk,
             unnest(generate_series(1, len(toks))) AS p
           FROM t),
         keptagg AS (
           SELECT pos.doc_id,
             string_agg(pos.tk, ' ' ORDER BY pos.p) AS cleaned,
             CAST(count(*) AS BIGINT) AS n_kept
           FROM pos LEFT JOIN cov
             ON pos.doc_id = cov.doc_id AND pos.p = cov.p
           WHERE cov.p IS NULL
           GROUP BY 1)
         SELECT t.doc_id, t.source,
           coalesce(k.cleaned, '') AS cleaned_text,
           CAST(len(t.toks) AS BIGINT) AS n_tokens,
           CAST(len(t.toks) - coalesce(k.n_kept, 0) AS BIGINT)
             AS tokens_removed
         FROM t LEFT JOIN keptagg k USING (doc_id)
         ORDER BY doc_id""",
    "q137_colloc_pairs" ->
      """WITH t AS (
           SELECT doc_id, string_split_regex(text, '\s+') AS toks
           FROM documents),
         u AS (SELECT unnest(toks) AS tok FROM t),
         uc AS (SELECT tok, CAST(count(*) AS BIGINT) AS c FROM u GROUP BY 1),
         n AS (SELECT CAST(count(*) AS BIGINT) AS total FROM u),
         p AS (
           SELECT doc_id,
             unnest(list_transform(generate_series(1, len(toks) - 1),
               i -> toks[i] || ' ' || toks[i+1])) AS pair
           FROM t WHERE len(toks) >= 2),
         pc AS (SELECT pair, CAST(count(*) AS BIGINT) AS cnt,
                  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
                FROM p GROUP BY 1),
         top AS (SELECT * FROM pc ORDER BY cnt DESC, pair LIMIT 30)
         SELECT tp.pair, tp.cnt, tp.n_docs,
           CAST((1000 * tp.cnt * n.total) // (l.c * r.c) AS BIGINT)
             AS lift_permille
         FROM top tp
         CROSS JOIN n
         JOIN uc l ON l.tok = string_split(tp.pair, ' ')[1]
         JOIN uc r ON r.tok = string_split(tp.pair, ' ')[2]
         ORDER BY tp.cnt DESC, tp.pair""",
    "q138_bigram_surprisal" ->
      """WITH t AS (
           SELECT doc_id, lang, source,
             string_split_regex(text, '\s+') AS toks
           FROM documents),
         u AS (SELECT unnest(toks) AS tok FROM t),
         uc AS (SELECT tok, CAST(count(*) AS BIGINT) AS c FROM u GROUP BY 1),
         n AS (SELECT CAST(count(*) AS BIGINT) AS total FROM u),
         bg AS (
           SELECT doc_id, lang, source,
             unnest(list_transform(generate_series(1, len(toks) - 1),
               i -> toks[i])) AS prev,
             unnest(list_transform(generate_series(1, len(toks) - 1),
               i -> toks[i+1])) AS cur
           FROM t WHERE len(toks) >= 2),
         bc AS (SELECT prev, cur, CAST(count(*) AS BIGINT) AS c2
                FROM bg GROUP BY 1, 2),
         pd AS (
           SELECT b.doc_id, b.lang, b.source,
             CAST(sum((len(bin(up.c)) - 1)
                      - (len(bin(bc.c2)) - 1)) AS BIGINT) AS bg_bits,
             CAST(sum((len(bin(n.total)) - 1)
                      - (len(bin(uc2.c)) - 1)) AS BIGINT) AS ug_bits,
             CAST(count(*) AS BIGINT) AS nt
           FROM bg b
           JOIN bc ON bc.prev = b.prev AND bc.cur = b.cur
           JOIN uc up ON up.tok = b.prev
           JOIN uc uc2 ON uc2.tok = b.cur
           CROSS JOIN n
           GROUP BY 1, 2, 3)
         SELECT lang, source, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(bg_bits * 1000 // nt) // count(*) AS BIGINT)
             AS bg_bits_permille,
           CAST(sum(ug_bits * 1000 // nt) // count(*) AS BIGINT)
             AS ug_bits_permille,
           CAST(sum((ug_bits - bg_bits) * 1000 // nt) // count(*) AS BIGINT)
             AS gain_permille
         FROM pd GROUP BY 1, 2 ORDER BY 1, 2""",
    "q144_bpe_merges" -> bpeOracleSql(BpeK),
    "q145_bpe_segment" -> bpeSegmentOracleSql(BpeK),
    "q186_watermark_detect" ->
      """WITH t AS (
           SELECT doc_id, source, string_split_regex(text, '\s+') AS tk
           FROM documents),
         g AS (
           SELECT doc_id, source,
             CAST(greatest(len(tk) - 1, 0) AS BIGINT) AS n_tr,
             CAST(CASE WHEN len(tk) < 2 THEN 0 ELSE
               len(list_filter(range(1, len(tk)), i ->
                 ('0x' || substring(md5(tk[i] || '|' || tk[i + 1] || '|wm1'),
                   1, 15))::UBIGINT % 2 = 0))
             END AS BIGINT) AS n_green
           FROM t),
         s AS (
           SELECT source, n_tr, n_green, n_tr >= 16 AS scored,
             n_tr >= 16 AND 2 * n_green > n_tr
               AND (2 * n_green - n_tr) * (2 * n_green - n_tr) > 4 * n_tr
               AS flagged
           FROM g)
         SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN scored THEN 1 ELSE 0 END) AS BIGINT)
             AS n_scored,
           CAST(sum(CASE WHEN flagged THEN 1 ELSE 0 END) AS BIGINT)
             AS n_flagged,
           CAST(sum(CASE WHEN scored THEN n_green ELSE 0 END) AS BIGINT)
             AS green_mass,
           CAST(sum(CASE WHEN scored THEN n_tr ELSE 0 END) AS BIGINT)
             AS transition_mass
         FROM s GROUP BY 1 ORDER BY 1""",
    "q146_source_divergence" ->
      """WITH sc AS (
           SELECT source, tok, CAST(count(*) AS BIGINT) AS c FROM (
             SELECT source, unnest(string_split_regex(text, '\s+')) AS tok
             FROM documents)
           GROUP BY 1, 2),
         g AS (SELECT tok, CAST(sum(c) AS BIGINT) AS gc FROM sc GROUP BY 1),
         n AS (SELECT CAST(sum(gc) AS BIGINT) AS n_total FROM g),
         p AS (
           SELECT source, CAST(sum(c) AS BIGINT) AS n_tokens,
             CAST(count(*) AS BIGINT) AS vocab,
             CAST(sum(c * (len(bin(c)) - 1)) AS BIGINT) AS self_mass,
             CAST(sum(c * (len(bin(gc)) - 1)) AS BIGINT) AS corpus_mass
           FROM sc JOIN g USING (tok) GROUP BY 1)
         SELECT source, n_tokens, vocab,
           CAST((n_tokens * (len(bin(n_total)) - 1) - corpus_mass) * 1000
                // n_tokens AS BIGINT) AS corpus_bits_permille,
           CAST((n_tokens * (len(bin(n_tokens)) - 1) - self_mass) * 1000
                // n_tokens AS BIGINT) AS self_bits_permille,
           CAST((n_tokens * (len(bin(n_total)) - 1) - corpus_mass)
                - (n_tokens * (len(bin(n_tokens)) - 1) - self_mass)
             AS BIGINT) AS gain_bits_mass
         FROM p CROSS JOIN n ORDER BY source""",
    "q63_winnow_md5" ->
      """WITH t AS (
           SELECT doc_id, string_split_regex(text, '\s+') AS toks FROM documents),
         h AS (
           SELECT doc_id, list_transform(toks,
             t -> ('0x' || substring(md5(t), 1, 15))::UBIGINT) AS hh
           FROM t),
         f AS (
           SELECT doc_id,
             CASE WHEN len(hh) <= 4 THEN [list_min(hh)]
                  ELSE list_distinct(list_transform(
                    generate_series(1, len(hh) - 3), i -> list_min(hh[i:i+3])))
             END AS fps
           FROM h)
         SELECT doc_id, CAST(len(fps) AS BIGINT) AS n_fp,
           CAST(list_min(fps) AS BIGINT) AS min_fp,
           CAST(list_max(fps) AS BIGINT) AS max_fp
         FROM f ORDER BY doc_id""",
    "q64_simhash_md5" ->
      """WITH t AS (
           SELECT doc_id, string_split_regex(text, '\s+') AS toks
           FROM documents WHERE doc_id % 5 = 0),
         h AS (
           SELECT doc_id, list_transform(toks,
             t -> ('0x' || substring(md5(t), 1, 15))::UBIGINT) AS hh
           FROM t),
         s AS (
           SELECT doc_id, CAST(list_sum(list_transform(generate_series(0, 63), b ->
             CASE WHEN list_sum(list_transform(hh,
                 x -> CASE WHEN (x >> b) & 1 = 1 THEN 1 ELSE -1 END)) > 0
               THEN CAST(CAST(1 AS UBIGINT) << b AS HUGEINT)
               ELSE CAST(0 AS HUGEINT) END)) AS UBIGINT) AS sh
           FROM h),
         banded AS (
           SELECT doc_id, sh, b, (sh >> (b * 16)) & 65535 AS bandval
           FROM s, unnest([0, 1, 2, 3]) AS u(b)),
         cand AS (
           SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2,
             a.sh AS sh1, b.sh AS sh2
           FROM banded a JOIN banded b
             ON a.b = b.b AND a.bandval = b.bandval AND a.doc_id < b.doc_id)
         SELECT id1, id2, CAST(bit_count(xor(sh1, sh2)) AS BIGINT) AS hamming
         FROM cand WHERE bit_count(xor(sh1, sh2)) <= 16 ORDER BY 1, 2""",
    "q35_langid" ->
      """WITH t AS (
           SELECT doc_id, lang, string_split_regex(text, '\s+') AS toks
           FROM documents),
         s AS (
           SELECT doc_id, lang,
             len(list_filter(toks, t -> t IN ('a','the','of','and','to','in','is'))) AS sc_en,
             len(list_filter(toks, t -> t IN ('der','die','das','und','ist','ein'))) AS sc_de,
             len(list_filter(toks, t -> t IN ('el','la','los','de','y','es','un'))) AS sc_es,
             len(list_filter(toks, t -> t IN ('le','la','les','et','est','un','des'))) AS sc_fr
           FROM t),
         b AS (SELECT *, greatest(0, sc_en, sc_de, sc_es, sc_fr) AS best FROM s)
         SELECT doc_id, lang,
           CASE WHEN best = 0 THEN 'unknown'
                WHEN sc_de = best THEN 'de'
                WHEN sc_en = best THEN 'en'
                WHEN sc_es = best THEN 'es'
                ELSE 'fr' END AS predicted
         FROM b ORDER BY doc_id""",
    "q201_lsh_operating_points" ->
      (DuckMacros.Sm64 + "WITH " + Md5LshBandedSql + ",\n" +
        lshCandCtes("sigs") + """,
         truth AS MATERIALIZED (
           SELECT id1, id2 FROM (
             SELECT c.id1, c.id2,
               len(list_intersect(ha.hh, hb.hh)) AS inter,
               len(ha.hh) + len(hb.hh) AS ssum
             FROM cand_16_1 c
             JOIN hs ha ON ha.doc_id = c.id1
             JOIN hs hb ON hb.doc_id = c.id2)
           WHERE ssum - inter > 0 AND 2 * inter >= ssum - inter)
         SELECT bands, rows, n_truth, n_candidates, n_hit,
           CAST(CASE WHEN n_truth = 0 THEN -1 ELSE n_hit * 1000 // n_truth END AS BIGINT) AS recall_permille,
           CAST(CASE WHEN n_candidates = 0 THEN -1 ELSE n_hit * 1000 // n_candidates END AS BIGINT) AS precision_permille
         FROM (SELECT CAST(2 AS BIGINT) AS bands, CAST(8 AS BIGINT) AS rows,
           (SELECT CAST(count(*) AS BIGINT) FROM truth) AS n_truth,
           (SELECT CAST(count(*) AS BIGINT) FROM cand_2_8) AS n_candidates,
           (SELECT CAST(count(*) AS BIGINT) FROM cand_2_8 c
              JOIN truth t ON t.id1 = c.id1 AND t.id2 = c.id2) AS n_hit
         UNION ALL
         SELECT CAST(4 AS BIGINT) AS bands, CAST(4 AS BIGINT) AS rows,
           (SELECT CAST(count(*) AS BIGINT) FROM truth) AS n_truth,
           (SELECT CAST(count(*) AS BIGINT) FROM cand_4_4) AS n_candidates,
           (SELECT CAST(count(*) AS BIGINT) FROM cand_4_4 c
              JOIN truth t ON t.id1 = c.id1 AND t.id2 = c.id2) AS n_hit
         UNION ALL
         SELECT CAST(8 AS BIGINT) AS bands, CAST(2 AS BIGINT) AS rows,
           (SELECT CAST(count(*) AS BIGINT) FROM truth) AS n_truth,
           (SELECT CAST(count(*) AS BIGINT) FROM cand_8_2) AS n_candidates,
           (SELECT CAST(count(*) AS BIGINT) FROM cand_8_2 c
              JOIN truth t ON t.id1 = c.id1 AND t.id2 = c.id2) AS n_hit
         UNION ALL
         SELECT CAST(16 AS BIGINT) AS bands, CAST(1 AS BIGINT) AS rows,
           (SELECT CAST(count(*) AS BIGINT) FROM truth) AS n_truth,
           (SELECT CAST(count(*) AS BIGINT) FROM cand_16_1) AS n_candidates,
           (SELECT CAST(count(*) AS BIGINT) FROM cand_16_1 c
              JOIN truth t ON t.id1 = c.id1 AND t.id2 = c.id2) AS n_hit)
         ORDER BY bands"""),
    "q204_lsh_sampled_ceiling" ->
      (DuckMacros.Sm64 + "WITH " + Md5LshBandedSql + """,
         sigs4 AS MATERIALIZED (
           SELECT * FROM sigs
           WHERE CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)),
             1, 15) AS UBIGINT) % 4 = 0),
         """ + lshCandCtes("sigs4") + """,
         truth AS MATERIALIZED (
           SELECT id1, id2 FROM (
             SELECT c.id1, c.id2,
               len(list_intersect(ha.hh, hb.hh)) AS inter,
               len(ha.hh) + len(hb.hh) AS ssum
             FROM cand_16_1 c
             JOIN hs ha ON ha.doc_id = c.id1
             JOIN hs hb ON hb.doc_id = c.id2)
           WHERE ssum - inter > 0 AND 2 * inter >= ssum - inter),
         st AS (SELECT (SELECT CAST(count(*) AS BIGINT) FROM truth)
                  AS t_s),
         cfg AS (
           SELECT CAST(2 AS BIGINT) AS bands, CAST(8 AS BIGINT) AS rows,
             (SELECT CAST(count(*) AS BIGINT) FROM cand_2_8)
               AS n_candidates,
             (SELECT CAST(count(*) AS BIGINT) FROM cand_2_8 c
                JOIN truth t ON t.id1 = c.id1 AND t.id2 = c.id2)
               AS n_hit_sample
           UNION ALL
           SELECT CAST(4 AS BIGINT), CAST(4 AS BIGINT),
             (SELECT CAST(count(*) AS BIGINT) FROM cand_4_4),
             (SELECT CAST(count(*) AS BIGINT) FROM cand_4_4 c
                JOIN truth t ON t.id1 = c.id1 AND t.id2 = c.id2)
           UNION ALL
           SELECT CAST(8 AS BIGINT), CAST(2 AS BIGINT),
             (SELECT CAST(count(*) AS BIGINT) FROM cand_8_2),
             (SELECT CAST(count(*) AS BIGINT) FROM cand_8_2 c
                JOIN truth t ON t.id1 = c.id1 AND t.id2 = c.id2)
           UNION ALL
           SELECT CAST(16 AS BIGINT), CAST(1 AS BIGINT),
             (SELECT CAST(count(*) AS BIGINT) FROM cand_16_1),
             (SELECT CAST(count(*) AS BIGINT) FROM truth))
         SELECT bands, rows, n_candidates,
           st.t_s AS n_truth_sample, n_hit_sample,
           CAST(st.t_s * 16 AS BIGINT) AS truth_est,
           CAST(CASE WHEN st.t_s = 0 THEN -1
             ELSE n_hit_sample * 1000 // st.t_s END AS BIGINT)
             AS recall_est_permille,
           CAST(CASE WHEN st.t_s = 0 THEN -1
             ELSE CAST(floor(1960.0 * sqrt(CAST(n_hit_sample AS DOUBLE)
               * (st.t_s - n_hit_sample) / st.t_s) / st.t_s)
               AS BIGINT) END AS BIGINT) AS ci_halfwidth_permille
         FROM cfg CROSS JOIN st ORDER BY bands"""),
    "q61_minhash_md5" ->
      (DuckMacros.Sm64 + "WITH " + Md5LshChainSql +
      """
         SELECT id1, id2, round(jaccard, 4) AS jaccard
         FROM j WHERE jaccard > 0.8 ORDER BY id1, id2"""),
    "q148_split_leakage" ->
      (DuckMacros.Sm64 + "WITH " + Md5LshChainSql + """,
         pr AS (SELECT id1, id2 FROM j WHERE jaccard > 0.8),
         sp AS (
           SELECT doc_id, CASE WHEN bk < 90 THEN 'train'
                               WHEN bk < 95 THEN 'val'
                               ELSE 'test' END AS part
           FROM (SELECT doc_id,
                   CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15)
                     AS UBIGINT) % 100 AS bk
                 FROM documents WHERE doc_id % 5 = 0)),
         combos(split_a, split_b) AS (VALUES
           ('train','train'),('train','val'),('train','test'),
           ('val','val'),('val','test'),('test','test')),
         cls AS (
           SELECT CASE WHEN r1 <= r2 THEN p1 ELSE p2 END AS split_a,
                  CASE WHEN r1 <= r2 THEN p2 ELSE p1 END AS split_b
           FROM (
             SELECT s1.part AS p1, s2.part AS p2,
               CASE s1.part WHEN 'train' THEN 0 WHEN 'val' THEN 1 ELSE 2 END AS r1,
               CASE s2.part WHEN 'train' THEN 0 WHEN 'val' THEN 1 ELSE 2 END AS r2
             FROM pr JOIN sp s1 ON pr.id1 = s1.doc_id
                     JOIN sp s2 ON pr.id2 = s2.doc_id)),
         cnt AS (SELECT split_a, split_b, CAST(count(*) AS BIGINT) AS np
                 FROM cls GROUP BY 1, 2),
         sz AS (SELECT part, CAST(count(*) AS BIGINT) AS nd
                FROM sp GROUP BY 1)
         SELECT c.split_a, c.split_b,
           CAST(coalesce(sa.nd, 0) AS BIGINT) AS n_docs_a,
           CAST(coalesce(sb.nd, 0) AS BIGINT) AS n_docs_b,
           CAST(coalesce(cnt.np, 0) AS BIGINT) AS n_pairs,
           (c.split_a <> c.split_b) AS is_leak
         FROM combos c
         LEFT JOIN cnt ON c.split_a = cnt.split_a AND c.split_b = cnt.split_b
         LEFT JOIN sz sa ON c.split_a = sa.part
         LEFT JOIN sz sb ON c.split_b = sb.part
         ORDER BY CASE c.split_a WHEN 'train' THEN 0 WHEN 'val' THEN 1 ELSE 2 END,
                  CASE c.split_b WHEN 'train' THEN 0 WHEN 'val' THEN 1 ELSE 2 END"""),
    "q150_zipf_profile" ->
      """WITH sc AS (
           SELECT source, tok, CAST(count(*) AS BIGINT) AS cnt
           FROM (SELECT source,
                   unnest(string_split_regex(text, '\s+')) AS tok
                 FROM documents)
           GROUP BY 1, 2),
         ranked AS (
           SELECT source, cnt,
             row_number() OVER (PARTITION BY source
               ORDER BY cnt DESC, tok) AS rk
           FROM sc),
         prof AS (
           SELECT source,
             CAST(coalesce(max(CASE WHEN rk = 1 THEN len(bin(cnt)) - 1 END), -1) AS BIGINT) AS b1,
             CAST(coalesce(max(CASE WHEN rk = 4 THEN len(bin(cnt)) - 1 END), -1) AS BIGINT) AS b4,
             CAST(coalesce(max(CASE WHEN rk = 16 THEN len(bin(cnt)) - 1 END), -1) AS BIGINT) AS b16,
             CAST(coalesce(max(CASE WHEN rk = 64 THEN len(bin(cnt)) - 1 END), -1) AS BIGINT) AS b64,
             CAST(coalesce(max(CASE WHEN rk = 256 THEN len(bin(cnt)) - 1 END), -1) AS BIGINT) AS b256
           FROM ranked WHERE rk IN (1, 4, 16, 64, 256) GROUP BY source),
         tot AS (
           SELECT source, CAST(count(*) AS BIGINT) AS vocab,
             CAST(sum(cnt) AS BIGINT) AS n_tokens
           FROM sc GROUP BY 1)
         SELECT t.source, vocab, n_tokens, b1, b4, b16, b64, b256,
           CAST(CASE WHEN b256 >= 0 THEN (1000 * (b1 - b256)) // 8
                     WHEN b64  >= 0 THEN (1000 * (b1 - b64))  // 6
                     WHEN b16  >= 0 THEN (1000 * (b1 - b16))  // 4
                     WHEN b4   >= 0 THEN (1000 * (b1 - b4))   // 2
                     ELSE 0 END AS BIGINT) AS slope_permille
         FROM tot t JOIN prof USING (source)
         ORDER BY t.source""",
    "q109_unigram_surprisal" ->
      """WITH toks AS (
           SELECT doc_id, lang, source,
             unnest(string_split_regex(text, '\s+')) AS tok
           FROM documents),
         m AS (SELECT tok, CAST(count(*) AS BIGINT) AS cnt
               FROM toks GROUP BY 1),
         tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_total FROM m),
         pd AS (
           SELECT t.doc_id, t.lang, t.source,
             CAST(sum((len(bin(tot.n_total)) - 1)
                      - (len(bin(m.cnt)) - 1)) AS BIGINT) AS sb,
             CAST(count(*) AS BIGINT) AS nt
           FROM toks t JOIN m ON t.tok = m.tok CROSS JOIN tot
           GROUP BY 1, 2, 3),
         pdp AS (SELECT *, sb * 1000 // nt AS permille FROM pd),
         corp AS (SELECT CAST(sum(sb) * 1000 // sum(nt) AS BIGINT) AS cp
                  FROM pdp)
         SELECT lang, source, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(permille) // count(*) AS BIGINT) AS avg_bits_permille,
           CAST(max(permille) AS BIGINT) AS max_bits_permille,
           CAST(sum(CASE WHEN permille * 10 > cp * 12 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_flagged
         FROM pdp CROSS JOIN corp
         GROUP BY 1, 2 ORDER BY 1, 2""",
    "q111_inverted_index" ->
      """WITH toks AS (
           SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS tok
           FROM documents),
         pairs AS (
           SELECT tok, doc_id, CAST(count(*) AS BIGINT) AS tfd
           FROM toks GROUP BY 1, 2)
         SELECT tok, CAST(count(*) AS BIGINT) AS df,
           CAST(sum(tfd) AS BIGINT) AS tf,
           array_to_string(list_transform(
             list_sort(list(doc_id))[1:20], x -> CAST(x AS VARCHAR)),
             ',') AS postings
         FROM pairs GROUP BY tok
         ORDER BY df DESC, tok LIMIT 50""",
    "q112_bm25_topk" ->
      """WITH toks AS (
           SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS tok
           FROM documents),
         dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS len
                FROM toks GROUP BY 1),
         na AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
                  CAST(sum(len) * 1000 // count(*) AS BIGINT) AS avg_mil
                FROM dl),
         pairs AS (
           SELECT tok, doc_id, CAST(count(*) AS BIGINT) AS tf
           FROM toks GROUP BY 1, 2),
         qt AS (
           SELECT tok, (1000 * n_docs) // df AS idf_k, avg_mil
           FROM (SELECT tok, CAST(count(*) AS BIGINT) AS df
                 FROM pairs GROUP BY 1) CROSS JOIN na
           ORDER BY df DESC, tok LIMIT 3)
         SELECT p.doc_id AS doc_id, CAST(count(*) AS BIGINT) AS n_terms,
           CAST(sum((qt.idf_k * 44 * qt.avg_mil * p.tf)
             // (20 * qt.avg_mil * p.tf + 6 * qt.avg_mil
                 + 18 * dl.len * 1000)) AS BIGINT) AS score
         FROM pairs p JOIN qt ON p.tok = qt.tok
           JOIN dl ON p.doc_id = dl.doc_id
         GROUP BY 1 ORDER BY score DESC, p.doc_id LIMIT 10""",
    "q120_fuzzy_match" ->
      """WITH keys AS (
           SELECT doc_id, substring(text, 1, 20) AS k FROM documents),
         probes AS (
           SELECT doc_id AS probe_id,
             substring(k, 1, 18) || 'zz' AS probe
           FROM keys WHERE doc_id % 401 = 0),
         d AS (
           SELECT probe_id, keys.doc_id,
             CAST(levenshtein(k, probe) AS BIGINT) AS dist
           FROM keys CROSS JOIN probes)
         SELECT probe_id, CAST(count(*) AS BIGINT) AS n_within,
           CAST(min(dist) AS BIGINT) AS best_dist,
           CAST(min(dist * 1000000000 + doc_id) % 1000000000 AS BIGINT)
             AS best_doc
         FROM d WHERE dist <= 4
         GROUP BY 1 ORDER BY 1""",
    "q163_hybrid_retrieval" ->
      """WITH toks AS (
           SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS tok
           FROM documents),
         dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS len
                FROM toks GROUP BY 1),
         na AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
                  CAST(sum(len) * 1000 // count(*) AS BIGINT) AS avg_mil
                FROM dl),
         pairs AS MATERIALIZED (
           SELECT tok, doc_id, CAST(count(*) AS BIGINT) AS tf
           FROM toks GROUP BY 1, 2),
         dfr AS (SELECT tok, CAST(count(*) AS BIGINT) AS df
                 FROM pairs GROUP BY 1),
         allq AS MATERIALIZED (
           SELECT vec_id, list_transform(embedding,
             x -> CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT)) AS qv
           FROM embeddings),
         qids AS (
           SELECT d.doc_id AS query_id FROM documents d
           JOIN allq a ON d.doc_id = a.vec_id WHERE d.doc_id % 100 = 0),
         qterms AS (
           SELECT query_id, tok,
             least((1000 * n_docs) // df, 1000000) AS idf_k, avg_mil
           FROM (
             SELECT p.doc_id AS query_id, p.tok, dfr.df,
               row_number() OVER (PARTITION BY p.doc_id
                 ORDER BY dfr.df, p.tok) AS rn
             FROM pairs p JOIN qids ON p.doc_id = qids.query_id
               JOIN dfr ON p.tok = dfr.tok
             WHERE dfr.df >= 2) CROSS JOIN na
           WHERE rn <= 5),
         sparse AS (
           SELECT q.query_id, p.doc_id,
             CAST(sum((q.idf_k * 44 * q.avg_mil * p.tf)
               // (20 * q.avg_mil * p.tf + 6 * q.avg_mil
                   + 18 * dl.len * 1000)) AS BIGINT) AS score
           FROM pairs p JOIN qterms q ON p.tok = q.tok
             JOIN dl ON p.doc_id = dl.doc_id
           WHERE p.doc_id <> q.query_id
           GROUP BY 1, 2),
         srank AS (
           SELECT query_id, doc_id, CAST(rn AS BIGINT) AS sparse_rank
           FROM (SELECT query_id, doc_id, row_number() OVER (
                   PARTITION BY query_id ORDER BY score DESC, doc_id) AS rn
                 FROM sparse) WHERE rn <= 20),
         qv AS (SELECT query_id, a.qv AS q_qv
                FROM qids JOIN allq a ON qids.query_id = a.vec_id),
         dense AS (
           SELECT qv.query_id, a.vec_id AS doc_id,
             CAST(list_sum(list_transform(list_zip(a.qv, qv.q_qv),
               z -> (z[1] - z[2]) * (z[1] - z[2]))) AS BIGINT) AS dist
           FROM allq a, qv WHERE a.vec_id <> qv.query_id),
         drank AS (
           SELECT query_id, doc_id, CAST(rn AS BIGINT) AS dense_rank
           FROM (SELECT query_id, doc_id, row_number() OVER (
                   PARTITION BY query_id ORDER BY dist, doc_id) AS rn
                 FROM dense) WHERE rn <= 20),
         fused AS (
           SELECT coalesce(s.query_id, d.query_id) AS query_id,
             coalesce(s.doc_id, d.doc_id) AS doc_id,
             CAST(coalesce(s.sparse_rank, 0) AS BIGINT) AS sparse_rank,
             CAST(coalesce(d.dense_rank, 0) AS BIGINT) AS dense_rank
           FROM srank s FULL OUTER JOIN drank d
             ON s.query_id = d.query_id AND s.doc_id = d.doc_id),
         scored AS (
           SELECT query_id, doc_id, sparse_rank, dense_rank,
             CAST(CASE WHEN sparse_rank > 0
                    THEN 1000000 // (60 + sparse_rank) ELSE 0 END
               + CASE WHEN dense_rank > 0
                    THEN 1000000 // (60 + dense_rank) ELSE 0 END
               AS BIGINT) AS rrf
           FROM fused)
         SELECT query_id, CAST(rank AS BIGINT) AS rank, doc_id, rrf,
           sparse_rank, dense_rank
         FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                 ORDER BY rrf DESC, doc_id) AS rank FROM scored)
         WHERE rank <= 10 ORDER BY query_id, rank""",
    "q166_reservoir_sample" ->
      """SELECT lang, CAST(rn AS BIGINT) AS pick, doc_id,
           CAST(h AS BIGINT) AS h
         FROM (
           SELECT lang, doc_id, h,
             row_number() OVER (PARTITION BY lang ORDER BY h, doc_id) AS rn
           FROM (
             SELECT lang, doc_id,
               CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15)
                 AS UBIGINT) AS h
             FROM documents))
         WHERE rn <= 20 ORDER BY lang, pick""",
    "q167_kneser_ney" ->
      """WITH t AS (
           SELECT doc_id, lang, source,
             string_split_regex(text, '\s+') AS toks
           FROM documents),
         bg AS (
           SELECT doc_id, lang, source,
             unnest(list_transform(generate_series(1, len(toks) - 1),
               i -> toks[i])) AS prev,
             unnest(list_transform(generate_series(1, len(toks) - 1),
               i -> toks[i+1])) AS cur
           FROM t WHERE len(toks) >= 2),
         bc AS MATERIALIZED (
           SELECT prev, cur, CAST(count(*) AS BIGINT) AS c2
           FROM bg GROUP BY 1, 2),
         bp AS (SELECT prev, CAST(sum(c2) AS BIGINT) AS c1,
                  CAST(count(*) AS BIGINT) AS n1
                FROM bc GROUP BY 1),
         bq AS (SELECT cur, CAST(count(*) AS BIGINT) AS ncont
                FROM bc GROUP BY 1),
         ncc AS (SELECT CAST(count(*) AS BIGINT) AS nc FROM bc),
         model AS MATERIALIZED (
           SELECT bc.prev, bc.cur,
             CAST((len(bin(4 * bp.c1 * ncc.nc)) - 1)
               - (len(bin((4 * bc.c2 - 3) * ncc.nc
                          + 3 * bp.n1 * bq.ncont)) - 1) AS BIGINT) AS knb,
             CAST((len(bin(bp.c1)) - 1) - (len(bin(bc.c2)) - 1)
               AS BIGINT) AS mleb
           FROM bc JOIN bp USING (prev) JOIN bq USING (cur)
           CROSS JOIN ncc),
         pd AS (
           SELECT b.doc_id, b.lang, b.source,
             CAST(sum(m.knb) AS BIGINT) AS kn_bits,
             CAST(sum(m.mleb) AS BIGINT) AS mle_bits,
             CAST(sum(CASE WHEN m.knb <> m.mleb THEN 1 ELSE 0 END)
               AS BIGINT) AS nsm,
             CAST(count(*) AS BIGINT) AS nt
           FROM bg b JOIN model m ON m.prev = b.prev AND m.cur = b.cur
           GROUP BY 1, 2, 3)
         SELECT lang, source, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(kn_bits * 1000 // nt) // count(*) AS BIGINT)
             AS kn_bits_permille,
           CAST(sum(mle_bits * 1000 // nt) // count(*) AS BIGINT)
             AS mle_bits_permille,
           CAST(sum(nsm * 1000 // nt) // count(*) AS BIGINT)
             AS smoothed_permille
         FROM pd GROUP BY 1, 2 ORDER BY 1, 2"""
  )

  /** The q61 oracle's CTE chain (without the WITH keyword), ending at `j`
    * = scored candidate pairs. q81's oracle prepends WITH RECURSIVE and
    * appends the connected-components closure over the same pairs.
    */
  /** base→banded prefix of the chain, shared with q88's asymmetric
    * new-vs-index candidate join.
    */
  private[operators] val Md5LshBandedSql: String =
    """base AS (
           SELECT doc_id, list_distinct(string_split_regex(text, '\s+')) AS s
           FROM documents WHERE doc_id % 5 = 0),
         hs AS (
           SELECT doc_id, list_sort(list_distinct(list_transform(s,
             t -> CAST('0x' || substring(md5(t), 1, 15) AS UBIGINT)))) AS hh
           FROM base),
         sigs AS (
           SELECT doc_id, hh, list_transform(generate_series(0, 15), i ->
             list_min(list_transform(hh, h ->
               CAST(sm64((CAST(h AS HUGEINT) + i * 11400714819323198485)
                 % 18446744073709551616) AS UBIGINT)))) AS sig
           FROM hs),
         banded AS (
           SELECT doc_id, hh, b, sig[b*4 + 1 : b*4 + 4] AS bandval
           FROM sigs, unnest([0, 1, 2, 3]) AS t(b))"""

  private[operators] val Md5LshChainSql: String =
    Md5LshBandedSql + """,
         cand AS (
           SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2,
             a.hh AS h1, b.hh AS h2
           FROM banded a JOIN banded b
             ON a.b = b.b AND a.bandval = b.bandval AND a.doc_id < b.doc_id),
         j AS (
           SELECT id1, id2,
             CAST(len(list_intersect(h1, h2)) AS DOUBLE)
               / (len(h1) + len(h2) - len(list_intersect(h1, h2))) AS jaccard
           FROM cand)"""
}
