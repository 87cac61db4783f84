package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.functions.VectorHashes

/** Similarity search over the `embeddings` table (LLM-pipeline surface).
  *
  * q37 brute-force cosine top-k is the oracled correctness baseline: the
  * scan side stays distributed, the (tiny) query set is broadcast, and
  * per-query ranking is a window over the scored pairs. All float math is
  * done in double with a deterministic left-to-right fold so the DuckDB
  * oracle (explicit list arithmetic — NOT list_cosine_similarity, which
  * computes in float32) matches bit-for-bit before rounding.
  *
  * q38/q40 are the scale paths: sign-LSH multi-probe and IVF-style coarse
  * quantization. Both keep candidate generation map-side; recall is
  * measured in specs on constructed clustered data (driver embeddings are
  * near-orthogonal random vectors — recall on them is meaningless).
  */
object VectorOps {

  type Q = (SparkSession, String) => DataFrame

  def defs: Map[String, Q] = Map(
    "q37_knn_bruteforce" -> ((s, d) => q37(s, d)),
    "q38_ann_lsh" -> ((s, d) => q38(s, d)),
    "q39_norm_stats" -> ((s, d) => q39(s, d)),
    "q40_ann_ivf" -> ((s, d) => q40(s, d)),
    "q125_ann_recall" -> ((s, d) => q125(s, d)),
    "q60_cosine_dedup" -> ((s, d) => q60(s, d)),
    "q72_kmeans_assign" -> ((s, d) => q72(s, d)),
    "q90_pq_ann" -> ((s, d) => q90(s, d)),
    "q93_semdedup" -> ((s, d) => q93(s, d)),
    "q105_ivfpq_ann" -> ((s, d) => q105(s, d)),
    "q132_int8_quant" -> ((s, d) => q132(s, d)),
    "q142_hard_negatives" -> ((s, d) => q142(s, d)),
    "q147_ivf_learned" -> ((s, d) => q147(s, d)),
    "q149_kmeans_convergence" -> ((s, d) => q149(s, d)),
    "q171_semdedup_lloyd" -> ((s, d) => q171(s, d)),
    "q174_embedding_drift" -> ((s, d) => q174(s, d)),
    "q181_semdedup_capped" -> ((s, d) => q181(s, d)),
    "q187_semantic_decontam" -> ((s, d) => q187(s, d)),
    "q191_binary_sign_ann" -> ((s, d) => q191(s, d)),
    "q195_binary_store" -> ((s, d) => q195(s, d)),
    "q202_binary_store_mutated" -> ((s, d) => q202(s, d)),
    "q207_ivf_binary" -> ((s, d) => q207(s, d)),
    "q208_ivf_binary_store" -> ((s, d) => q208(s, d)),
    "q211_binary_store_labeled" -> ((s, d) => q211(s, d))
  )

  /** Hard-negative mining for contrastive training — per query vector,
    * the 3 highest-cosine candidates with a DIFFERENT label, reported
    * next to the best same-label cosine (the triplet-margin inputs:
    * negatives that outrank positives are the pairs a contrastive loss
    * learns most from). Candidates come from the q40 IVF route (assign
    * every vector to its nearest of 16 coarse centroids, probe the
    * query's 2 nearest cells) — NOT the q37 brute-force cross join —
    * so the mining plan is the one that runs at billion-vector scale;
    * positives are scoped to the same probed cells (standard in-batch /
    * in-shard mining semantics). Queries with no same-label candidate
    * in their probed cells drop (null best-positive filter,
    * deterministic).
    *
    * Scale: centroids and the (query × 2 probes) relation broadcast
    * (both KB-scale by construction). The corpus-side assignment is a
    * map-side-combined argmax (the ×16 scored expansion folds to one
    * row per vector BEFORE its exchange via partial max_by; the window
    * form shuffled and sorted all 16 copies — and, referenced twice,
    * recomputed the corpus×16 dot products twice). Mining is ONE pass
    * over the candidate join: a bounded O(3)-state top-k aggregator
    * (BoundedAggs.topScored) and the best-positive max fold map-side in
    * the same groupBy, so the candidate relation (queries × probed
    * cells × cell size) never shuffles and never recomputes — the
    * window+join form paid both, twice. Idle same-host sf10 A/B vs the
    * window form: 6.0 s → 4.8 s (the dramatic earlier delta was
    * contended-host noise; this ~20% is the real gain, plus the
    * bounded shuffle the window form lacked).
    */
  private def q142(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val e = vecs(s, d)
    val cents = e.filter($"vec_id" < 16)
      .select($"vec_id".as("cent_id"), $"v".as("cv"), $"nrm".as("cn"))
    val assigned = e.crossJoin(broadcast(cents))
      .select($"vec_id", $"label", $"v", $"nrm", $"cent_id",
        (dot($"v", $"cv") / ($"nrm" * $"cn")).as("csim"))
      .groupBy($"vec_id")
      .agg(max_by(struct($"label", $"v", $"nrm", $"cent_id"),
        struct($"csim", -$"cent_id")).as("a"))
      .select($"vec_id", $"a.label".as("label"), $"a.v".as("v"),
        $"a.nrm".as("nrm"), $"a.cent_id".as("cent_id"))
    val wq = Window.partitionBy($"vec_id").orderBy($"csim".desc, $"cent_id")
    val queries = e.filter($"vec_id" % 100 === 0)
      .crossJoin(broadcast(cents))
      .select($"vec_id", $"label", $"v", $"nrm", $"cent_id",
        (dot($"v", $"cv") / ($"nrm" * $"cn")).as("csim"))
      .withColumn("crank", row_number().over(wq))
      .filter($"crank" <= 2)
      .select($"vec_id".as("query_id"), $"label".as("qlabel"),
        $"v".as("qv"), $"nrm".as("qn"), $"cent_id")
    // A NaN cosine means a zero-norm vector (0/0); excluded from mining
    // on BOTH the positive and negative sides, and the DuckDB oracle
    // filters identically — so oracle parity is not data-dependent
    // (KTopScored also drops NaN internally; this filter makes the
    // positive max agree instead of returning NaN-as-largest).
    val cand = assigned.join(broadcast(queries), Seq("cent_id"))
      .filter($"vec_id" =!= $"query_id")
      .select($"query_id", $"qlabel", $"vec_id".as("neighbor"), $"label",
        round(dot($"v", $"qv") / ($"nrm" * $"qn"), 6).as("cosine"))
      .filter(!isnan($"cosine"))
    cand.groupBy($"query_id")
      .agg(max(when($"label" === $"qlabel", $"cosine")).as("pos_cosine"),
        graft.functions.BoundedAggs.topScored(
          $"cosine", $"neighbor", $"label" =!= $"qlabel", 3).as("negs"))
      .filter($"pos_cosine".isNotNull)
      .select($"query_id", posexplode($"negs"), $"pos_cosine")
      .select($"query_id", ($"pos" + 1).cast("long").as("rank"),
        $"col.id".as("neighbor"), $"col.score".as("neg_cosine"),
        $"pos_cosine")
      .orderBy($"query_id", $"rank")
  }

  /** Int8 scalar-quantization calibration — the compression step that
    * turns a float32 embedding store into a 4×-smaller int8 one (the
    * standard serving-index footprint reduction, orthogonal to PQ's q90):
    * per-dimension [min,max] is calibrated on a 10% sample, every value
    * quantizes to `floor((v-min)*255/range)` clamped to [0,255], and the
    * report shows, per dimension, the calibration bounds, how many
    * corpus values fell outside them (clamped), and the mean midpoint-
    * reconstruction error in permille of the range. All row arithmetic
    * is single-expression float64 (bit-identical cross-engine); only
    * integers are aggregated.
    *
    * Scale: the calibration aggregate is two-phase min/max over the
    * sample (map-side partials, `dim` rows out); the bounds table (dim
    * rows) broadcasts to the quantize pass, which is one codegen'd map +
    * a two-phase integer agg — no corpus-sized shuffle anywhere, so the
    * plan is insensitive to corpus row count.
    */
  private def q132(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val base = Tables(s, d, "embeddings")
      .select($"vec_id",
        posexplode(transform($"embedding", x => x.cast("double"))))
      .select($"vec_id", $"pos".cast("long").as("dim"), $"col".as("v"))
    val calib = base.filter($"vec_id" % 10 === 0)
      .groupBy($"dim").agg(min($"v").as("vmin"), max($"v").as("vmax"))
    base.join(broadcast(calib), "dim")
      .withColumn("rng", $"vmax" - $"vmin")
      .withColumn("craw", floor(($"v" - $"vmin") * lit(255.0) / $"rng"))
      .withColumn("code", greatest(lit(0L), least(lit(255L), $"craw")))
      .withColumn("dq",
        $"vmin" + ($"code".cast("double") + lit(0.5)) * $"rng" / lit(255.0))
      .withColumn("errp",
        floor(abs($"v" - $"dq") * lit(1000.0) / $"rng"))
      .groupBy($"dim")
      .agg(count(lit(1)).as("n_vals"),
        min($"vmin").as("vmin"), min($"vmax").as("vmax"),
        sum(when($"craw" < 0, 1L).otherwise(0L)).as("n_clamped_lo"),
        sum(when($"craw" > 255, 1L).otherwise(0L)).as("n_clamped_hi"),
        sum($"errp").as("err_sum"))
      .withColumn("avg_err_permille", expr("err_sum div n_vals"))
      .drop("err_sum")
      .orderBy($"dim")
  }

  /** IVF-PQ ANN — the two compressions composed, i.e. the architecture
    * behind every billion-vector index (FAISS IVFPQ): an IVF coarse
    * quantizer routes each vector to one inverted list (q72's assignment
    * step, packed-argmin), queries probe their nearest 2 lists, and
    * ranking inside the probed lists uses the PQ ASYMMETRIC distance
    * (q90's 8×8 codebook encode/reconstruct). Everything stays in q72's
    * exact-integer space, so the DuckDB oracle replays routing, encoding,
    * and ranking bit-exactly (ties (dist, cid) / (adc, neighbor)).
    *
    * Scale: IVF bounds the scan — each query touches nprobe/nlists of
    * the corpus — and PQ bounds the bytes — 8 code bytes per scanned
    * vector; together a 1B-vector index is ~8 GB spread across
    * executors, scanned at nprobe/nlists selectivity. Centroids and
    * codebook broadcast (k + 128 small rows); the only corpus-sized
    * shuffles are the per-vector argmin (one packed long each) and the
    * candidate join keyed by list id, which AQE skew-splits if one list
    * runs hot. The per-query cost never touches unprobed lists — that
    * is what makes the brute-force q37 shape (score everything) obsolete
    * past memory scale.
    */
  private def q105(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val emb = Tables(s, d, "embeddings")
      .select($"vec_id", expr(
        "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000d + 0.5d) AS BIGINT))"
      ).as("qv"))
    val cents = emb.filter($"vec_id" < 16)
      .select($"vec_id".cast("int").as("cid"), $"qv".as("cq"))
    // IVF routing: nearest centroid per vector via the packed argmin
    val lists = emb.crossJoin(broadcast(cents))
      .withColumn("dist", graft.functions.VectorMath.sqDistLong($"qv", $"cq"))
      .groupBy($"vec_id")
      .agg(min($"dist" * 16 + $"cid").as("packed"))
      .select($"vec_id", pmod($"packed", lit(16)).cast("int").as("cid"))
    // PQ encode + reconstruct (q90's codebook relation)
    val sub = emb.select($"vec_id", posexplode(expr(
        "transform(sequence(0, 7), m -> slice(qv, m*8 + 1, 8))")))
      .select($"vec_id", $"pos".as("m"), $"col".as("sv"))
    val cb = sub.filter($"vec_id" < 16)
      .select($"m", $"vec_id".cast("int").as("c"), $"sv".as("cvec"))
    val codes = sub.join(broadcast(cb), "m")
      .withColumn("dd", graft.functions.VectorMath.sqDistLong($"sv", $"cvec"))
      .groupBy($"vec_id", $"m")
      .agg(min($"dd" * 16 + $"c").as("packed"))
      .select($"vec_id", $"m", pmod($"packed", lit(16)).cast("int").as("c"))
    val recon = codes.join(broadcast(cb), Seq("m", "c"))
      .groupBy($"vec_id")
      .agg(flatten(expr(
        "transform(array_sort(collect_list(struct(m, cvec))), x -> x.cvec)")).as("rv"))
    // queries probe their 2 nearest lists
    val qs = emb.filter($"vec_id" % 100 === 0)
    val probes = qs.crossJoin(broadcast(cents))
      .withColumn("dist", graft.functions.VectorMath.sqDistLong($"qv", $"cq"))
      .withColumn("crank", row_number().over(
        Window.partitionBy($"vec_id").orderBy($"dist", $"cid")))
      .filter($"crank" <= 2)
      .select($"vec_id".as("query_id"), $"qv".as("qqv"), $"cid")
    val w = Window.partitionBy($"query_id").orderBy($"adc", $"neighbor")
    recon.join(lists, "vec_id")
      .join(broadcast(probes), Seq("cid"))
      .filter($"vec_id" =!= $"query_id")
      .select($"query_id", $"vec_id".as("neighbor"), $"cid",
        graft.functions.VectorMath.sqDistLong($"rv", $"qqv").as("adc"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter($"rank" <= 5)
      .orderBy($"query_id", $"rank")
  }

  /** SemDeDup-shape semantic dedup (cluster-then-prune): assign every
    * embedding to its nearest coarse centroid (the q72 quantizer), then
    * compare pairs ONLY within a cluster and drop any vector that has a
    * lower-id near-duplicate (quantized cosine ≥ 0.35) in its cluster.
    * Output: per-cluster keep/drop accounting.
    *
    * All arithmetic is exact int64 on the floor(1000·x+0.5) quantization:
    * the cosine threshold is the cross-multiplied integer test
    * `400·dot² ≥ 49·‖a‖²·‖b‖²  ∧  dot > 0` (0.35² = 49/400), so the
    * DuckDB oracle replays the entire pipeline bit-exactly — no float
    * rounding anywhere. Unit-norm inputs quantized at 1000 keep every
    * term ≤ ~4·10¹⁴, far inside int64.
    *
    * Scale: this is the O(N²)→O(Σ|cluster|²) cut that makes embedding
    * dedup feasible at corpus scale — k centroids broadcast (one map
    * pass to assign), then pairwise work is confined to cluster-local
    * shuffles; only (vec_id, cid) and the small quantized vectors move.
    * In production k grows as O(√N) so expected cluster size — and the
    * per-cluster quadratic term — stays bounded; skewed clusters land on
    * AQE skew-split. The drop rule (lowest id in each near-dup
    * neighborhood survives) is order-free and needs no iteration,
    * unlike the q81 connected-components resolution.
    */
  private def q93(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val emb = Tables(s, d, "embeddings")
      .select($"vec_id", expr(
        "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000d + 0.5d) AS BIGINT))"
      ).as("qv"))
    val cents = emb.filter($"vec_id" < 10)
      .select($"vec_id".as("cid"), $"qv".as("cq"))
    val assigned = emb.crossJoin(broadcast(cents))
      .withColumn("dist", graft.functions.VectorMath.sqDistLong($"qv", $"cq"))
      .groupBy($"vec_id")
      .agg(min($"dist" * 16 + $"cid").as("packed"))
      .select($"vec_id", pmod($"packed", lit(16)).as("cid"))
    val v = emb.join(assigned, "vec_id")
      .withColumn("n2", graft.functions.VectorMath.dotLong($"qv", $"qv"))
    val dropped = v.as("a")
      .join(v.as("b"),
        col("a.cid") === col("b.cid") && col("a.vec_id") < col("b.vec_id"))
      .withColumn("dot",
        graft.functions.VectorMath.dotLong(col("a.qv"), col("b.qv")))
      .filter($"dot" > 0 &&
        $"dot" * $"dot" * lit(400L) >= col("a.n2") * col("b.n2") * lit(49L))
      .select(col("b.vec_id").as("vec_id")).distinct()
      .withColumn("is_dropped", lit(1L))
    v.join(dropped, Seq("vec_id"), "left")
      .groupBy($"cid")
      .agg(count(lit(1)).as("n_vecs"),
        sum(coalesce($"is_dropped", lit(0L))).as("n_dropped"),
        (count(lit(1)) - sum(coalesce($"is_dropped", lit(0L)))).as("n_kept"))
      .orderBy($"cid")
  }

  /** Product-quantization ANN (ADC): the memory-compressed index path —
    * 64-dim vectors → 8 subspaces × 8 dims, each subvector encoded as the
    * nearest of 16 codebook entries (codebook = the quantized subvectors
    * of vec_id < 16, playing the trained codebook as in q72/q40), then
    * top-5 per query by ASYMMETRIC distance (exact query vs reconstructed
    * doc). Everything runs in q72's exact-integer space (floor(1000x+0.5))
    * so encoding, reconstruction, and ADC ranking are all int64 — the
    * DuckDB oracle replays the whole pipeline exactly, ties broken
    * (distance, code) and (adc, neighbor).
    *
    * Scale: this is the operator that makes billion-vector search fit in
    * memory — 8 bytes/vector (8 codes) instead of 256, so a 1B-vector
    * index is 8 GB across the cluster instead of 256 GB. The codebook
    * (128 subvectors) broadcasts; encoding is a broadcast join keyed by
    * subspace + packed-argmin aggregate (one long per (vector, subspace)
    * through the shuffle — the same `min(dist*16+c)` trick as q72, since
    * `min(struct)` would leave HashAggregate); reconstruction joins the
    * broadcast codebook back and the ADC scan is the q37 shape: doc side
    * distributed, query side broadcast, per-query top-k windowed on the
    * scored pairs. In production the reconstruction join is replaced by
    * per-query lookup tables (16×8 distances computed once per query),
    * which drops the ADC to 8 table lookups per doc — same dataflow,
    * narrower inner loop.
    */
  private def q90(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val emb = Tables(s, d, "embeddings")
      .select($"vec_id", expr(
        "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000d + 0.5d) AS BIGINT))"
      ).as("qv"))
    // N×8 subvector rows; the codebook reuses the same relation at vec_id<16
    val sub = emb.select($"vec_id", posexplode(expr(
        "transform(sequence(0, 7), m -> slice(qv, m*8 + 1, 8))")))
      .select($"vec_id", $"pos".as("m"), $"col".as("sv"))
    val cb = sub.filter($"vec_id" < 16)
      .select($"m", $"vec_id".cast("int").as("c"), $"sv".as("cvec"))
    // encode: nearest code per (vector, subspace); subspace distances fit
    // far below 2^59 so the packed argmin is exact
    val codes = sub.join(broadcast(cb), "m")
      .withColumn("dd", graft.functions.VectorMath.sqDistLong($"sv", $"cvec"))
      .groupBy($"vec_id", $"m")
      .agg(min($"dd" * 16 + $"c").as("packed"))
      .select($"vec_id", $"m", pmod($"packed", lit(16)).cast("int").as("c"))
    // reconstruct: chosen codebook subvectors concatenated in subspace order
    val recon = codes.join(broadcast(cb), Seq("m", "c"))
      .groupBy($"vec_id")
      .agg(flatten(expr(
        "transform(array_sort(collect_list(struct(m, cvec))), x -> x.cvec)")).as("rv"))
    val qs = emb.filter($"vec_id" % 100 === 0)
      .select($"vec_id".as("query_id"), $"qv".as("qqv"))
    val w = Window.partitionBy($"query_id").orderBy($"adc", $"neighbor")
    recon.crossJoin(broadcast(qs))
      .filter($"vec_id" =!= $"query_id")
      .select($"query_id", $"vec_id".as("neighbor"),
        graft.functions.VectorMath.sqDistLong($"rv", $"qqv").as("adc"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter($"rank" <= 5)
      .orderBy($"query_id", $"rank")
  }

  /** k-means assignment step — the Lloyd-iteration core and the IVF
    * coarse-quantizer training primitive. Vectors are quantized to exact
    * integers (floor(1000·x + 0.5) computed in double space — identical
    * IEEE result on any engine) so distances live in int64 and the oracle
    * is EXACT, not float-rounded (sliding-sum lesson: no rounding
    * precision is safe across engines' summation trees).
    *
    * Scale: k centroids broadcast; one map pass computes all k distances
    * per vector; the per-vector argmin packs (dist, cid) into ONE long
    * (dist·16 + cid — dist < 2³² for unit-scale vectors, cid < 16), so
    * `min(packed)` IS the lexicographic (dist, cid) argmin and stays in
    * HashAggregate with map-side combine (`min(struct(...))` would fall
    * back to SortAggregate). The shuffle carries one long per vector;
    * per-centroid stats shuffle k rows. No window, no N×k shuffle.
    */
  private def q72(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val emb = Tables(s, d, "embeddings")
      .select($"vec_id", expr(
        "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000d + 0.5d) AS BIGINT))"
      ).as("qv"))
    val cents = emb.filter($"vec_id" < 10)
      .select($"vec_id".as("cid"), $"qv".as("cq"))
    emb.crossJoin(broadcast(cents))
      .withColumn("dist", graft.functions.VectorMath.sqDistLong($"qv", $"cq"))
      .groupBy($"vec_id")
      .agg(min($"dist" * 16 + $"cid").as("packed"))
      .select($"vec_id", pmod($"packed", lit(16)).as("cid"),
        expr("packed div 16").as("dist"))
      .groupBy($"cid")
      .agg(count(lit(1)).as("n_vecs"), sum($"dist").as("sum_dist"))
      .orderBy($"cid")
  }

  /** Embedding-cosine near-dup similarity JOIN (corpus × corpus): sign-LSH
    * multi-probe self-join generates candidates, exact cosine re-checks.
    * The dedup-by-embedding mode of the LLM pipeline; recall measured on
    * clustered data in VectorOpsSpec (driver vectors are near-orthogonal).
    */
  private def q60(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val nPlanes = 4
    val e = vecs(s, d)
      .withColumn("bucket", VectorHashes.hyperplaneBucket($"v", nPlanes))
    val probed = e.select($"vec_id", $"v", $"nrm",
      explode(array((0 to nPlanes).map {
        case 0 => col("bucket")
        case p => col("bucket").bitwiseXOR(lit(1L << (p - 1)))
      }: _*)).as("probe"))
    e.as("a")
      .join(probed.as("b"),
        col("a.bucket") === col("b.probe") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("id1"), col("b.vec_id").as("id2"),
        (dot(col("a.v"), col("b.v")) / (col("a.nrm") * col("b.nrm"))).as("cosine"))
      .distinct()
      .filter($"cosine" > 0.35)
      .select($"id1", $"id2", round($"cosine", 6).as("cosine"))
      .orderBy($"id1", $"id2")
  }

  private def dot(a: Column, b: Column): Column =
    graft.functions.VectorMath.dotDouble(a, b)

  /** embeddings with double vector + precomputed norm. */
  private def vecs(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables(s, d, "embeddings")
      .withColumn("v", transform($"embedding", x => x.cast("double")))
      .withColumn("nrm", sqrt(dot(col("v"), col("v"))))
  }

  /** Brute-force cosine top-5 per query (query set = vec_id % 100 = 0). */
  private def q37(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val e = vecs(s, d)
    val q = e.filter($"vec_id" % 100 === 0)
      .select($"vec_id".as("query_id"), $"v".as("qv"), $"nrm".as("qn"))
    val w = Window.partitionBy($"query_id")
      .orderBy($"cosine".desc, $"neighbor")
    e.crossJoin(broadcast(q))
      .filter($"vec_id" =!= $"query_id")
      .select($"query_id", $"vec_id".as("neighbor"),
        round(dot($"v", $"qv") / ($"nrm" * $"qn"), 6).as("cosine"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter($"rank" <= 5)
      .orderBy($"query_id", $"rank")
  }

  /** Sign-LSH ANN: 4 hyperplanes → 16 buckets, multi-probe Hamming ≤ 1.
    * Candidates = vectors in any probed bucket; top-5 by exact cosine.
    */
  private def q38(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val nPlanes = 4
    val e = vecs(s, d)
      .withColumn("bucket", VectorHashes.hyperplaneBucket($"v", nPlanes))
    val q = e.filter($"vec_id" % 100 === 0)
      .select($"vec_id".as("query_id"), $"v".as("qv"), $"nrm".as("qn"),
        explode(array((0 to nPlanes).map {
          case 0 => col("bucket")
          case p => col("bucket").bitwiseXOR(lit(1L << (p - 1)))
        }: _*)).as("probe"))
    val w = Window.partitionBy($"query_id")
      .orderBy($"cosine".desc, $"neighbor")
    e.join(broadcast(q), $"bucket" === $"probe" && $"vec_id" =!= $"query_id")
      .select($"query_id", $"vec_id".as("neighbor"),
        round(dot($"v", $"qv") / ($"nrm" * $"qn"), 6).as("cosine"))
      .distinct()
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter($"rank" <= 5)
      .orderBy($"query_id", $"rank")
  }

  /** Per-label norm statistics (oracled). */
  private def q39(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    vecs(s, d)
      .groupBy($"label")
      .agg(count(lit(1)).as("n_vecs"),
        round(avg($"nrm"), 4).as("avg_norm"),
        round(min($"nrm"), 4).as("min_norm"),
        round(max($"nrm"), 4).as("max_norm"))
      .orderBy($"label")
  }

  /** IVF-style ANN: coarse centroids = vectors with vec_id < 16; every
    * vector is assigned to its nearest centroid (one distributed pass);
    * queries probe their 2 nearest centroid cells; exact cosine re-rank
    * inside the probed cells. (Fixed seed centroids keep this entry a
    * pure SERVING benchmark; the real index-BUILD path — k-means-learned
    * centroids feeding the same route — is [[q147]].)
    *
    * Query-set bound: the probe relation BROADCASTS, which is correct
    * only because a serving batch is bounded (the fixture's
    * `vec_id % 100` sampling makes it corpus-proportional, but that is
    * a fixture artifact — a real deployment serves bounded request
    * batches, and the unbounded-stream case is [[graft.streaming
    * .StreamOps.knnStream]]). If a batch ever outgrew broadcast, the
    * probe join degrades to a shuffle keyed by cell id with no plan
    * rewrite — the same degrade AQE applies to any broadcast join.
    */
  private def q40(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val e = vecs(s, d)
    val cents = e.filter($"vec_id" < 16)
      .select($"vec_id".as("cent_id"), $"v".as("cv"), $"nrm".as("cn"))
    val wAssign = Window.partitionBy($"vec_id").orderBy($"csim".desc, $"cent_id")
    val assigned = e.crossJoin(broadcast(cents))
      .select($"vec_id", $"v", $"nrm", $"cent_id",
        (dot($"v", $"cv") / ($"nrm" * $"cn")).as("csim"))
      .withColumn("crank", row_number().over(wAssign))
      .filter($"crank" === 1)
      .select($"vec_id", $"v", $"nrm", $"cent_id")
    val queries = e.filter($"vec_id" % 100 === 0).crossJoin(broadcast(cents))
      .select($"vec_id".as("query_id"), $"v".as("qv"), $"nrm".as("qn"), $"cent_id",
        (dot($"v", $"cv") / ($"nrm" * $"cn")).as("csim"))
      .withColumn("crank", row_number().over(
        Window.partitionBy($"query_id").orderBy($"csim".desc, $"cent_id")))
      .filter($"crank" <= 2)
      .select($"query_id", $"qv", $"qn", $"cent_id")
    val w = Window.partitionBy($"query_id").orderBy($"cosine".desc, $"neighbor")
    assigned.join(broadcast(queries), Seq("cent_id"))
      .filter($"vec_id" =!= $"query_id")
      .select($"query_id", $"vec_id".as("neighbor"),
        round(dot($"v", $"qv") / ($"nrm" * $"qn"), 6).as("cosine"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter($"rank" <= 5)
      .orderBy($"query_id", $"rank")
  }

  /** IVF with LEARNED coarse centroids — the real index-BUILD path,
    * composing the Lloyd halves the catalog already verifies (q72
    * assignment, q85 update) with the q40 routing surface: seed with
    * vec_id < 16, run [[lloydTrain]] to CONVERGENCE (up to
    * [[LloydMaxIters]] full Lloyd iterations, stopping at the first
    * round whose distortion improvement drops below
    * [[LloydMinImprove]]), and serve queries through the learned cells
    * (2-probe, exact int64 re-rank). Everything stays in the q72
    * exact-integer space; the component mean is floor(sum / n) computed
    * in double (|sum| far below 2^53 — IEEE-identical division on both
    * engines, and floor-then-cast sidesteps DuckDB's rounding CAST), so
    * the oracle replays training, the CONVERGENCE DECISION, and serving
    * bit-exactly (the stop rule is a lag-window filter over the
    * per-stage distortions — [[lloydOracleCtes]]).
    *
    * Scale: each Lloyd round is one broadcast-argmin pass (16-row
    * centroid table broadcast; packed (dist·16 + cid) min keeps
    * HashAggregate with map-side combine) fused with its k×dim VecSum
    * update and distortion rollup, then the q40 probe join: queries
    * broadcast (bounded serving batch — see q40's query-set-bound note;
    * the fixture's %100 sample is corpus-proportional only as a fixture
    * artifact), the corpus contributes one long + one carried vector
    * per assignment pass plus the probed-cell candidates. The round
    * count is a driver loop over k×dim-sized state, like q144's merge
    * rounds — data work per round is constant in corpus size.
    */
  /** int64-quantized embeddings (the q72/q85/q147/q149 shared space). */
  private[graft] def quantized(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables(s, d, "embeddings")
      .select($"vec_id", expr(
        "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000d + 0.5d) AS BIGINT))"
      ).as("qv"))
  }

  /** [[quantized]] plus the vector's metadata label (the filterable
    * attribute the q156 filtered serve prunes on), widened to int64 so
    * both engines agree on the compare type.
    */
  private[graft] def quantizedLabeled(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables(s, d, "embeddings")
      .select($"vec_id", expr(
        "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000d + 0.5d) AS BIGINT))"
      ).as("qv"), $"label".cast("long").as("label"))
  }

  /** Packed-argmin assignment (vec_id, cid, dist) against <=16 broadcast
    * centroids — see q72 for the dist·16+cid encoding rationale. With
    * `carryQv` the vector rides THROUGH the aggregate via
    * `min_by(qv, packed)` (packed is unique per (vec, cent), so the
    * argmin is deterministic): the map-side partial agg collapses the
    * 16 candidate rows to one per vector before the exchange either
    * way, so carrying qv costs nothing extra on the wire and saves the
    * vec_id-keyed join-back exchange + sorts a consumer would otherwise
    * pay to re-attach the vector. `carry` rides further per-vector
    * attribute columns (e.g. a filter label) through the same
    * aggregate — constant per vector, so `min_by` returns the one value
    * every candidate row agrees on.
    */
  private[graft] def argminPacked(in: DataFrame, cents: DataFrame,
      carryQv: Boolean = false, carry: Seq[String] = Nil): DataFrame = {
    val s = in.sparkSession
    import s.implicits._
    // The dist*radix+cid packing decodes via pmod(packed, radix), which
    // is injective only while cid < radix: a fixed radix of 16 silently
    // corrupted assignments once splitCells minted cell ids past 16
    // (cid 17 decoded as cid 1 with dist+1). Derive the radix from the
    // centroid table itself — it is k rows and about to be broadcast,
    // so the driver-side max costs one trivial job — and keep the
    // single-long packing (min(struct(dist,cid)) would be radix-free
    // but falls out of HashAggregate into SortAggregate).
    val radix = cents.agg(max(col("cid").cast("long"))).head().getLong(0) + 1L
    require(radix >= 1L, s"argminPacked: negative cell id (radix $radix)")
    val scored = in.crossJoin(broadcast(cents))
      .withColumn("dist", graft.functions.VectorMath.sqDistLong($"qv", $"cq"))
    val carryAggs =
      (if (carryQv) Seq(expr(s"min_by(qv, dist * ${radix}L + cid)").as("qv")) else Nil) ++
        carry.map(c => expr(s"min_by($c, dist * ${radix}L + cid)").as(c))
    val aggd = scored.groupBy($"vec_id")
      .agg(min($"dist" * lit(radix) + $"cid").as("packed"), carryAggs: _*)
    aggd.withColumn("cid", pmod($"packed", lit(radix)))
      .withColumn("dist", expr(s"packed div ${radix}L"))
      .drop("packed")
  }

  /** One Lloyd pass fused with its quality report: per cell of the
    * assignment against `cents`, the member count, the NEXT centroid
    * (integer-floor mean — floor(sum / n) in IEEE double, |sum| far
    * below 2^53 so identical on both engines, and floor-then-cast
    * sidesteps DuckDB's rounding CAST), and the cell's distortion sum.
    * ONE corpus pass yields both the update and the convergence signal
    * — the loop never pays a separate measurement scan.
    * localCheckpoint'ed (16 rows): the learned table is consumed by
    * several downstream subtrees (the q110/q144 iteration-state rule).
    */
  private def lloydPass(emb: DataFrame, cents: DataFrame): DataFrame = {
    val s = emb.sparkSession
    import s.implicits._
    argminPacked(emb, cents, carryQv = true)
      .groupBy($"cid")
      .agg(count(lit(1)).as("n"),
        graft.functions.BoundedAggs.vecSum($"qv").as("sums"),
        sum($"dist").as("dsum"))
      .select($"cid", $"n",
        expr("transform(sums, sv -> CAST(floor(CAST(sv AS DOUBLE) / n) AS BIGINT))")
          .as("cq"), $"dsum")
      .localCheckpoint(true)
  }

  /** Per-iteration Lloyd quality stats (one row per reported round). */
  private[graft] case class LloydRound(
      iter: Long, nCells: Long, nVecs: Long, maxCell: Long, distortion: Long)

  /** Driver-bounded Lloyd loop with convergence stop — the q144-merge-
    * rounds pattern applied to k-means: each round is ONE corpus pass
    * ([[lloydPass]]: packed-argmin + 16-row rollup carrying counts,
    * floor-mean sums, AND distortion), the driver collects only the
    * 16-row cell table, and the loop stops at the first iteration whose
    * distortion improves on the previous one by less than `minImprove`
    * (floor-quantized means void Lloyd's strict monotonicity near the
    * fixed point, so "improvement < 1" is the exact integer convergence
    * test — it also catches a small INCREASE) or at `maxIters`. Returns
    * the SERVED centroid table — the one whose distortion the final
    * report row measured, never an unmeasured update — plus every
    * round's stats. All integer-exact, so the DuckDB oracle replays the
    * loop AND the stop decision relationally ([[lloydOracleCtes]]).
    *
    * Scale: per-round data work is one broadcast-argmin exchange of one
    * long + one k×dim vector per corpus partition; driver state is k
    * rows per round. Round count — not corpus size — bounds the build,
    * exactly like q144's merge rounds.
    */
  private[graft] def lloydTrain(emb: DataFrame, seeds: DataFrame,
      maxIters: Int, minImprove: Long): (DataFrame, Seq[LloydRound]) = {
    val s = emb.sparkSession
    import s.implicits._
    val rounds = scala.collection.mutable.Buffer[LloydRound]()
    var cents = seeds
    var iter = 0
    while (true) {
      val pass = lloydPass(emb, cents)
      val cells = pass.select($"n", $"dsum").as[(Long, Long)].collect()
      rounds += LloydRound(iter.toLong, cells.length.toLong, cells.map(_._1).sum,
        cells.map(_._1).max, cells.map(_._2).sum)
      val converged = iter > 0 &&
        rounds(iter - 1).distortion - rounds(iter).distortion < minImprove
      if (converged || iter >= maxIters) return (cents, rounds.toSeq)
      cents = pass.select($"cid", $"cq")
      iter += 1
    }
    throw new IllegalStateException("unreachable")
  }

  /** Lloyd loop bounds shared by q147/q149/the IVF index build and
    * their DuckDB oracles (the oracle unrolls `maxIters` stages, so it
    * is a fixed replay bound, not a tunable).
    */
  private[graft] val LloydMaxIters = 4
  private[graft] val LloydMinImprove = 1L

  /** Session-scoped cache of the EXACT kNN ground truth the recall
    * entries gate against. The |queries| × corpus int64-L2 brute force
    * is the dominant cost of every recall evaluation (q158/q161/q162
    * and q163's dense side — 33-38 s each at sf10), and several
    * entries evaluate against the SAME population: compute each
    * population's exact top-20 ONCE per session via the bounded top-k
    * aggregator, checkpoint the |queries|·20-row result, and let every
    * consumer take the rank prefix it needs (the total (dist, neighbor)
    * order makes a top-k a strict prefix of a larger top-k). The
    * in-process cache is the session analog of persisting the eval
    * ground truth beside the index, which is what a deployment does —
    * rebuilt per session, so it can never serve a stale corpus.
    *
    * Populations: "full" = the whole embedding corpus, queries every
    * 100th id (q161, q163-dense); "live" = the q157/q160 lifecycle's
    * post-delete corpus (id % 7 != 0), same query rule (q158, q162).
    */
  private val exactTopCache =
    new java.util.concurrent.ConcurrentHashMap[(String, String), DataFrame]()

  private[graft] def exactTop(s: SparkSession, d: String,
      tag: String): DataFrame =
    exactTopCache.computeIfAbsent((d, tag), _ => {
      import s.implicits._
      val emb = quantized(s, d)
      val (corpus, queries) = tag match {
        case "full" => (emb, emb.filter($"vec_id" % 100 === 0))
        case "live" =>
          val live = emb.filter($"vec_id" % 7 =!= 0)
          (live, live.filter($"vec_id" % 100 === 0))
        case "bin_live" =>
          // q202's mutated binary store: every vector is eventually
          // ingested, ids % 7 = 3 are deleted; queries stay the q191
          // set (external queries may be absent from the corpus)
          (emb.filter($"vec_id" % 7 =!= 3),
            emb.filter($"vec_id" % 100 === 0))
        case other => throw new IllegalArgumentException(
          s"unknown exact-top population '$other'")
      }
      // negated distance: score desc == dist asc, id ties asc — the
      // |queries|×corpus pairs fold MAP-SIDE to 20 rows per query;
      // int64 distances stay far below 2^53, so the double carry is
      // exact (q158's discipline)
      corpus.crossJoin(broadcast(queries
          .select($"vec_id".as("query_id"), $"qv".as("q_qv"))))
        .filter($"vec_id" =!= $"query_id")
        .select($"query_id", $"vec_id".as("neighbor"),
          graft.functions.VectorMath.sqDistLong($"qv", $"q_qv").as("dist"))
        .groupBy($"query_id")
        .agg(graft.functions.BoundedAggs.topScored(
          -$"dist".cast("double"), $"neighbor", lit(true), 20).as("top"))
        .select($"query_id", posexplode($"top"))
        .select($"query_id", $"col.id".as("neighbor"),
          ($"pos" + 1).cast("long").as("rank"))
        .localCheckpoint(true)
    })

  /** Same-label exact ground truth for the labeled binary store's gate
    * (q211): per query, the exact int64-L2 top-20 over the LIVE
    * same-label population (ids % 7 = 3 deleted — the q202 fixture's
    * lifecycle). Session-cached like [[exactTop]].
    */
  private[graft] def exactTopLabeled(s: SparkSession,
      d: String): DataFrame =
    exactTopCache.computeIfAbsent((d, "bin_labeled_live"), _ => {
      import s.implicits._
      val emb = quantizedLabeled(s, d)
      val corpus = emb.filter($"vec_id" % 7 =!= 3)
      val queries = emb.filter($"vec_id" % 100 === 0)
      corpus.join(broadcast(queries
          .select($"vec_id".as("query_id"), $"qv".as("q_qv"), $"label")),
          "label")
        .filter($"vec_id" =!= $"query_id")
        .select($"query_id", $"vec_id".as("neighbor"),
          graft.functions.VectorMath.sqDistLong($"qv", $"q_qv").as("dist"))
        .groupBy($"query_id")
        .agg(graft.functions.BoundedAggs.topScored(
          -$"dist".cast("double"), $"neighbor", lit(true), 20).as("top"))
        .select($"query_id", posexplode($"top"))
        .select($"query_id", $"col.id".as("neighbor"),
          ($"pos" + 1).cast("long").as("rank"))
        .localCheckpoint(true)
    })

  /** SEMANTIC decontamination — the embedding-space sibling of q82/q139
    * (those are lexical 8-gram tests; paraphrased benchmark leakage has
    * no shared 8-gram and only THIS test sees it). For every held-out
    * eval vector (vec_id % 97 = 0 — the q82-style benchmark split), the
    * nearest TRAINING vector by exact integer cosine plus how many
    * training vectors sit above the audit threshold (signed cos² ≥
    * 40‰, i.e. |cos| ≥ 0.2 with positive sign — wide enough to rank
    * real leakage on any corpus, narrow enough to stay informative).
    * Cosine is quantized to signed permille-of-cos² (the q178 scheme:
    * (dot²·1000) div (n2_t·n2_e), sign of dot carried separately), so
    * every comparison is exact int64 cross-engine — dot² ≤ ~3.2e14 and
    * ×1000 ≤ 3.2e17 at this quantization (qv ≤ ~530, dim 64), proved
    * in-range the q178 way. The argmax is deterministic: the packed
    * key (c2p + 1000)·2⁴¹ + (2⁴¹−1−train_id) is monotone in
    * (c2p asc, train_id desc), so max(packed) picks the highest score
    * and breaks ties toward the SMALLEST train id — an order-free
    * aggregate, not a window.
    *
    * Scale: the eval side is the benchmark suite — tiny by
    * construction — so it BROADCASTS; the train corpus computes all
    * |eval| cosines per row map-side and partial-aggregates to one row
    * per eval id before the only exchange (|eval| rows). No window, no
    * all-pairs, no corpus shuffle: the q82 posture in embedding space.
    */
  private def q187(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val P = 2199023255552L // 2^41
    val emb = quantized(s, d)
      .withColumn("n2", graft.functions.VectorMath.dotLong($"qv", $"qv"))
      .filter($"n2" > 0L)
    val ev = emb.filter($"vec_id" % 97 === 0)
      .select($"vec_id".as("eval_id"), $"qv".as("eqv"), $"n2".as("en2"))
    val tr = emb.filter($"vec_id" % 97 =!= 0)
      .select($"vec_id".as("train_id"), $"qv", $"n2")
    tr.crossJoin(broadcast(ev))
      .withColumn("dot", graft.functions.VectorMath.dotLong($"qv", $"eqv"))
      .withColumn("mag", expr("(dot * dot * 1000) div (n2 * en2)"))
      .withColumn("c2p", when($"dot" >= 0L, $"mag").otherwise(-$"mag"))
      .withColumn("packed",
        ($"c2p" + 1000L) * lit(P) + (lit(P - 1L) - $"train_id"))
      .groupBy($"eval_id")
      .agg(max($"packed").as("p"),
        sum(when($"c2p" >= 40L, 1L).otherwise(0L)).as("n_above"))
      .select($"eval_id",
        (expr(s"p div $P") - 1000L).as("best_c2p"),
        (lit(P - 1L) - expr(s"p % $P")).as("best_train"),
        $"n_above")
      .orderBy($"eval_id")
  }

  /** Sign-bit packed binary codes (vec_id, w0, w1) — the 1-bit-per-
    * dimension quantization of the lifted corpus: bit i is set iff
    * qv[i] > 0, dims 0–31 pack into w0 and 32–63 into w1 (two 32-bit
    * words, so no engine ever shifts into an int64 sign bit). One
    * codegen'd map pass; 16 logical bytes per vector vs 256 for the
    * float32 row — the 16× footprint cut that makes the Hamming scan
    * an in-cache pass at corpus scale.
    */
  private[graft] val SignW0Sql: String =
    """aggregate(sequence(0, 31), CAST(0 AS BIGINT),
               (acc, i) -> acc + IF(qv[i] > 0,
                 shiftleft(CAST(1 AS BIGINT), i), CAST(0 AS BIGINT)))"""

  private[graft] val SignW1Sql: String =
    """aggregate(sequence(0, 31), CAST(0 AS BIGINT),
               (acc, i) -> acc + IF(qv[i + 32] > 0,
                 shiftleft(CAST(1 AS BIGINT), i), CAST(0 AS BIGINT)))"""

  private[graft] def binaryCodes(emb: DataFrame): DataFrame = {
    val s = emb.sparkSession
    import s.implicits._
    emb.select($"vec_id", $"qv",
      expr(SignW0Sql).as("w0"), expr(SignW1Sql).as("w1"))
  }

  /** Binary (sign-bit) quantization ANN — the fourth compression tier
    * of the serving matrix (float32 q37 / int8 q132 / PQ q90-q159 /
    * 1-bit here): each 64-dim vector becomes a 64-bit sign code, the
    * candidate stage ranks the corpus by HAMMING distance to the query
    * code (`bit_count(xor)` — the cheapest distance that exists), and
    * a refine stage re-ranks only the 20-deep shortlist with the exact
    * integer L2. The report scores BOTH stages against the shared
    * exact top-5 ([[exactTop]] "full"): per query and overall,
    * recall@5 of the raw Hamming top-5 beside recall@5 of the
    * re-ranked shortlist — the measured case for why binary serving
    * always ships with a refine pass. Everything is integer-exact
    * cross-engine: the sign test runs in the lifted space, codes are
    * disjoint bit sums, Hamming is int, and both rankings use total
    * (score, neighbor) orders.
    *
    * Scale: codes are ONE map pass and 16 bytes/vector — at 1B vectors
    * the whole binary tier is 16 GB spread across executors, scanned
    * with two xor+popcount ops per candidate (SIMD-friendly, stays in
    * whole-stage codegen). The query side broadcasts (codes + lifted
    * vectors, KB-scale); the corpus×queries Hamming pairs fold
    * MAP-SIDE to 20 rows per query through the bounded top-k
    * aggregator, so the only exchanges carry |queries|·20 rows. The
    * refine join brings back full vectors for shortlist ids only
    * (broadcast semi-probe, never a corpus shuffle). Composes with IVF
    * routing (q40) when even the linear bit-scan is too much — this
    * entry measures the tier itself.
    */
  /** Stage 1 of the binary tier: Hamming shortlist of `width` per
    * query over packed codes (vec_id, w0, w1) × queries (query_id,
    * qw0, qw1). The corpus × queries pairs fold map-side to `width`
    * rows per query: score = -(ham·2^40 + neighbor) makes the
    * aggregator's (score desc, id asc) order the exact (ham asc,
    * neighbor asc) total order even past k ties (neighbor ids stay
    * < 2^40 — the MakeBigSf sf10 corpus reaches ~10^9 — and
    * 64·2^40 + 2^40 < 2^53 keeps the double carry exact).
    * Checkpointed: every consumer (refine fetch, ham-recall join, the
    * store's bucket collection) re-reads the small result.
    */
  private[graft] def hamShortlist(codes: DataFrame, queries: DataFrame,
      width: Int): DataFrame = {
    val s = codes.sparkSession
    import s.implicits._
    val out = codes.crossJoin(broadcast(
        queries.select($"query_id", $"qw0", $"qw1")))
      .filter($"vec_id" =!= $"query_id")
      .select($"query_id",
        $"vec_id".as("neighbor"),
        (expr("CAST(bit_count(w0 ^ qw0) + bit_count(w1 ^ qw1) AS BIGINT)"))
          .as("ham"))
      .groupBy($"query_id")
      .agg(graft.functions.BoundedAggs.topScored(
        -($"ham" * 1099511627776L + $"neighbor").cast("double"),
        $"neighbor", lit(true), width).as("top"))
      .select($"query_id", posexplode($"top"))
      .select($"query_id", $"col.id".as("neighbor"),
        ($"pos" + 1).cast("long").as("srank"))
    out.localCheckpoint(true)
  }

  /** Labeled sibling of [[hamShortlist]]: the Hamming scan joins codes
    * to the broadcast query batch ON label, so each query ranks only
    * its own tenant's codes — same bounded top-k fold per query.
    */
  private[graft] def hamShortlistLabeled(codes: DataFrame,
      queries: DataFrame, width: Int,
      checkpoint: Boolean = true): DataFrame = {
    val s = codes.sparkSession
    import s.implicits._
    val out = codes.join(broadcast(
        queries.select($"query_id", $"qw0", $"qw1", $"label")), "label")
      .filter($"vec_id" =!= $"query_id")
      .select($"query_id",
        $"vec_id".as("neighbor"),
        (expr("CAST(bit_count(w0 ^ qw0) + bit_count(w1 ^ qw1) AS BIGINT)"))
          .as("ham"))
      .groupBy($"query_id")
      .agg(graft.functions.BoundedAggs.topScored(
        -($"ham" * 1099511627776L + $"neighbor").cast("double"),
        $"neighbor", lit(true), width).as("top"))
      .select($"query_id", posexplode($"top"))
      .select($"query_id", $"col.id".as("neighbor"),
        ($"pos" + 1).cast("long").as("srank"))
    if (checkpoint) out.localCheckpoint(true) else out
  }

  /** Stage 2: exact integer L2 re-rank of the shortlist rows only —
    * `vecs` (vec_id, qv) supplies full-precision vectors for exactly
    * the shortlist ids (in-memory corpus for q191; the store's
    * bucket-pruned vectors relation for q195).
    */
  private[graft] def refineRank(shortlist: DataFrame, vecs: DataFrame,
      queries: DataFrame): DataFrame = {
    val s = shortlist.sparkSession
    import s.implicits._
    shortlist
      .join(vecs.select($"vec_id".as("neighbor"), $"qv"), "neighbor")
      .join(broadcast(queries.select($"query_id", $"q_qv")), "query_id")
      .select($"query_id", $"neighbor", $"srank",
        graft.functions.VectorMath.sqDistLong($"qv", $"q_qv").as("dist"))
      .withColumn("rrank", row_number().over(
        Window.partitionBy($"query_id").orderBy($"dist", $"neighbor"))
        .cast("long"))
  }

  /** The q191 report frame: recall@5 of the raw Hamming top-5 and of
    * the refined top-5 against the shared exact ground truth, per
    * query plus an overall row. Shared verbatim by q195 (store serve)
    * so the stored tier hashes against q191's own oracle.
    */
  private[graft] def binaryRecallReport(s: SparkSession, d: String,
      shortlist: DataFrame, refined: DataFrame, queries: DataFrame,
      exactTag: String = "full"): DataFrame = {
    import s.implicits._
    val ex = exactTop(s, d, exactTag).filter($"rank" <= 5)
      .select($"query_id", $"neighbor")
    val hamTop5 = shortlist.filter($"srank" <= 5)
      .join(ex, Seq("query_id", "neighbor"), "left_semi")
      .groupBy($"query_id").agg(count(lit(1)).as("n_ham"))
    val refTop5 = refined.filter($"rrank" <= 5)
      .join(ex, Seq("query_id", "neighbor"), "left_semi")
      .groupBy($"query_id").agg(count(lit(1)).as("n_refined"))
    val per = queries.select($"query_id")
      .join(hamTop5, Seq("query_id"), "left")
      .join(refTop5, Seq("query_id"), "left")
      .select($"query_id", lit(5L).as("k"),
        coalesce($"n_ham", lit(0L)).as("n_ham"),
        coalesce($"n_refined", lit(0L)).as("n_refined"))
    val overall = per.groupBy()
      .agg(sum($"k").as("k"), sum($"n_ham").as("n_ham"),
        sum($"n_refined").as("n_refined"))
      .select(lit(-1L).as("query_id"), $"k", $"n_ham", $"n_refined")
    per.unionByName(overall)
      .select($"query_id", $"k", $"n_ham", $"n_refined",
        expr("n_ham * 1000 div k").as("recall_ham_permille"),
        expr("n_refined * 1000 div k").as("recall_ref_permille"))
      .orderBy($"query_id")
  }

  private[graft] def binaryQueries(emb: DataFrame): DataFrame = {
    val s = emb.sparkSession
    import s.implicits._
    binaryCodes(emb.filter($"vec_id" % 100 === 0))
      .select($"vec_id".as("query_id"), $"qv".as("q_qv"),
        $"w0".as("qw0"), $"w1".as("qw1"))
  }

  /** The q191/q195 OPERATING-POINT table (round 13: the q173/q201
    * tuning-curve discipline applied to the binary tier's one knob):
    * ONE Hamming scan at the widest shortlist (100), then every
    * narrower width's refined top-5 derived by rank-filtering — the
    * halving-family nesting argument: refined@width w = exact-L2 top-5
    * among shortlist rows with srank ≤ w, so widths 20/64/100 cost one
    * extra window over the 100-deep relation, not three scans. Raw
    * Hamming recall@5 is width-independent (the ham top-5 is a prefix
    * of every width) and repeats per row so each width reads as a
    * complete (raw, refined) operating point. Per (width, query) plus
    * a per-width overall rollup.
    */
  private[graft] def binaryWidthReport(s: SparkSession, d: String,
      refined: DataFrame, queries: DataFrame,
      exactTag: String = "full"): DataFrame = {
    import s.implicits._
    val widths = Seq(20L, 64L, 100L).toDF("width")
    val ex = exactTop(s, d, exactTag).filter($"rank" <= 5)
      .select($"query_id", $"neighbor")
    val hamTop5 = refined.filter($"srank" <= 5)
      .join(ex, Seq("query_id", "neighbor"), "left_semi")
      .groupBy($"query_id").agg(count(lit(1)).as("n_ham"))
    val refTop5 = refined.crossJoin(broadcast(widths))
      .filter($"srank" <= $"width")
      .withColumn("wrank", row_number().over(
        Window.partitionBy($"width", $"query_id")
          .orderBy($"dist", $"neighbor")))
      .filter($"wrank" <= 5)
      .join(ex, Seq("query_id", "neighbor"), "left_semi")
      .groupBy($"width", $"query_id").agg(count(lit(1)).as("n_refined"))
    val per = queries.select($"query_id").crossJoin(broadcast(widths))
      .join(hamTop5, Seq("query_id"), "left")
      .join(refTop5, Seq("width", "query_id"), "left")
      .select($"width", $"query_id", lit(5L).as("k"),
        coalesce($"n_ham", lit(0L)).as("n_ham"),
        coalesce($"n_refined", lit(0L)).as("n_refined"))
    val overall = per.groupBy($"width")
      .agg(sum($"k").as("k"), sum($"n_ham").as("n_ham"),
        sum($"n_refined").as("n_refined"))
      .select($"width", lit(-1L).as("query_id"), $"k", $"n_ham",
        $"n_refined")
    per.unionByName(overall)
      .select($"width", $"query_id", $"k", $"n_ham", $"n_refined",
        expr("n_ham * 1000 div k").as("recall_ham_permille"),
        expr("n_refined * 1000 div k").as("recall_ref_permille"))
      .orderBy($"width", $"query_id")
  }

  private def q191(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val emb = quantized(s, d)
    val codes = binaryCodes(emb)
    val queries = binaryQueries(emb)
    val shortlist = hamShortlist(codes, queries, 100)
    val refined = refineRank(shortlist, emb, queries)
    binaryWidthReport(s, d, refined, queries)
  }

  /** Binary tier SERVED FROM DISK — the q195 gate entry: build the
    * [[BinaryStore]] (16-byte codes relation + id-bucketed
    * full-precision vectors) from the corpus, run the identical
    * two-stage serve against the STORED relations, and emit q191's
    * recall report — hashed against q191's own oracle, so the store
    * roundtrip (write, codes-only stage-1 scan, bucket-pruned refine
    * fetch) is provably transparent.
    */
  private def q195(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val dir = Scratch.dir(s, "binary/q195")
    val emb = quantized(s, d)
    BinaryStore.build(emb, dir)
    val queries = binaryQueries(emb)
    val (_, refined) = BinaryStore.serveStages(s, dir, queries, 100)
    binaryWidthReport(s, d, refined, queries)
  }

  /** Binary tier through the FULL MUTATION LIFECYCLE — the q202 gate
    * entry for [[BinaryStore]]'s manifest protocol (q158's shape on
    * the 1-bit tier): build on two-thirds of the corpus, ingest the
    * rest as two exactly-once generations (one deliberately REPLAYED —
    * a double-ingest would double rows and fail the hash), tombstone
    * every id ≡ 3 (mod 7), then serve the q191 report against the
    * LIVE exact ground truth BEFORE compaction (phase 0) and AFTER
    * (phase 1). The oracle replays the live set relationally and
    * emits both phases from one computation, so the hash match proves
    * ingest exactly-once, delete masking, and compaction transparency
    * end-to-end — not just "rows came back".
    *
    * Scale: each lifecycle step costs its batch (pack pass + two
    * partitioned writes; tombstone append; one live rewrite); the two
    * serves are the q191 plan against the committed snapshot.
    */
  private def q202(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val dir = Scratch.dir(s, "binary/q202")
    val emb = quantized(s, d)
    BinaryStore.build(emb.filter($"vec_id" % 3 =!= 2), dir)
    val gen1 = emb.filter($"vec_id" % 3 === 2 && $"vec_id" % 2 === 0)
    BinaryStore.addBatch(s, dir, gen1, gen = 1L)
    BinaryStore.addBatch(s, dir, gen1, gen = 1L) // replay: committed no-op
    BinaryStore.addBatch(s, dir,
      emb.filter($"vec_id" % 3 === 2 && $"vec_id" % 2 === 1), gen = 2L)
    BinaryStore.delete(s, dir, emb.filter($"vec_id" % 7 === 3)
      .select($"vec_id"))
    val queries = binaryQueries(emb)
    def phaseReport(phase: Long): DataFrame = {
      val (shortlist, refined) = BinaryStore.serveStages(s, dir, queries, 20)
      binaryRecallReport(s, d, shortlist, refined, queries, "bin_live")
        .select(lit(phase).as("phase"), $"query_id", $"k", $"n_ham",
          $"n_refined", $"recall_ham_permille", $"recall_ref_permille")
    }
    // phase 0 MUST materialize before compact: its plan reads the
    // pre-fold generation directories, which the post-commit GC
    // reclaims (retainEpochs defaults to 1)
    val pre = phaseReport(0L).localCheckpoint(true)
    BinaryStore.compact(s, dir)
    pre.unionByName(phaseReport(1L)).orderBy($"phase", $"query_id")
  }

  /** Labeled query batch for the labeled store gate: the q191 query
    * set (every 100th vector) carrying its tenant label.
    */
  private[graft] def binaryQueriesLabeled(emb: DataFrame): DataFrame = {
    val s = emb.sparkSession
    import s.implicits._
    binaryCodes(emb.filter($"vec_id" % 100 === 0)
        .select($"vec_id", $"qv"))
      .join(emb.select($"vec_id", $"label"), "vec_id")
      .select($"vec_id".as("query_id"), $"qv".as("q_qv"),
        $"w0".as("qw0"), $"w1".as("qw1"), $"label")
  }

  /** LABELED (tenant) flat binary store through the full mutation
    * lifecycle — q202's fixture on [[BinaryStore.buildLabeled]]'s
    * label-partitioned layout, completing the serving matrix's label
    * dimension for the flat tiers (q165 is the compressed-cell
    * sibling): build on two-thirds, ingest the rest as two
    * exactly-once generations (one REPLAYED), tombstone ids ≡ 3
    * (mod 7), serve the SAME-LABEL recall report before (phase 0) and
    * after (phase 1) [[BinaryStore.compactLabeled]] — labels must
    * survive the fold rewrite or phase 1's Hamming scan matches
    * nothing. Recall is against the same-label live exact top-k
    * ([[exactTopLabeled]]); per-query k is that query's ground-truth
    * row count (a tenant with < 6 live members has a smaller exact
    * top-5 — the q209 accounting).
    *
    * Scale: the labeled serve's stage-1 scan statically prunes to the
    * batch's `label=…` directories; everything else is the q202
    * lifecycle cost model.
    */
  private def q211(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val dir = Scratch.dir(s, "binary/q211")
    val emb = quantizedLabeled(s, d)
    BinaryStore.buildLabeled(emb.filter($"vec_id" % 3 =!= 2), dir)
    val gen1 = emb.filter($"vec_id" % 3 === 2 && $"vec_id" % 2 === 0)
    BinaryStore.addBatchLabeled(s, dir, gen1, gen = 1L)
    BinaryStore.addBatchLabeled(s, dir, gen1, gen = 1L) // replay: no-op
    BinaryStore.addBatchLabeled(s, dir,
      emb.filter($"vec_id" % 3 === 2 && $"vec_id" % 2 === 1), gen = 2L)
    BinaryStore.delete(s, dir, emb.filter($"vec_id" % 7 === 3)
      .select($"vec_id"))
    val queries = binaryQueriesLabeled(emb)
    val ex = exactTopLabeled(s, d).filter($"rank" <= 5)
      .select($"query_id", $"neighbor")
    val kRel = ex.groupBy($"query_id").agg(count(lit(1)).as("k"))
    def phaseReport(phase: Long): DataFrame = {
      val (shortlist, refined) =
        BinaryStore.serveLabeledStages(s, dir, queries, 20)
      val hamTop5 = shortlist.filter($"srank" <= 5)
        .join(ex, Seq("query_id", "neighbor"), "left_semi")
        .groupBy($"query_id").agg(count(lit(1)).as("n_ham"))
      val refTop5 = refined.filter($"rrank" <= 5)
        .join(ex, Seq("query_id", "neighbor"), "left_semi")
        .groupBy($"query_id").agg(count(lit(1)).as("n_refined"))
      val per = queries.select($"query_id", $"label")
        .join(kRel, Seq("query_id"), "left")
        .join(hamTop5, Seq("query_id"), "left")
        .join(refTop5, Seq("query_id"), "left")
        .select($"query_id", $"label",
          coalesce($"k", lit(0L)).as("k"),
          coalesce($"n_ham", lit(0L)).as("n_ham"),
          coalesce($"n_refined", lit(0L)).as("n_refined"))
      val overall = per.groupBy()
        .agg(sum($"k").as("k"), sum($"n_ham").as("n_ham"),
          sum($"n_refined").as("n_refined"))
        .select(lit(-1L).as("query_id"), lit(-1L).as("label"), $"k",
          $"n_ham", $"n_refined")
      per.unionByName(overall)
        .select(lit(phase).as("phase"), $"query_id", $"label", $"k",
          $"n_ham", $"n_refined",
          expr("CASE WHEN k = 0 THEN 1000L ELSE n_ham * 1000 div k END")
            .as("recall_ham_permille"),
          expr("CASE WHEN k = 0 THEN 1000L ELSE n_refined * 1000 div k END")
            .as("recall_ref_permille"))
    }
    val pre = phaseReport(0L).localCheckpoint(true)
    BinaryStore.compactLabeled(s, dir)
    pre.unionByName(phaseReport(1L)).orderBy($"phase", $"query_id")
  }

  // ---------- IVF×binary composed tier (q207) ----------

  /** Probe levels / shortlist widths the composed-tier report sweeps.
    * Nesting keeps the sweep one scan: probed cells at nprobe=1 are a
    * prefix of nprobe=4's, and every width's refined top-5 derives by
    * rank-filtering the widest shortlist (the q191 width-table
    * argument, applied per probe level).
    */
  private[graft] val IvfBinProbes = Seq(1L, 2L, 4L)
  private[graft] val IvfBinWidths = Seq(20L, 100L)
  private[graft] val IvfBinMaxProbe = 4

  /** Sign-bit codes WITH their coarse cell: one argmin pass against
    * `cents` (broadcast), then the same codegen'd pack as
    * [[binaryCodes]] — (vec_id, qv, cid, w0, w1).
    */
  private[graft] def ivfBinCodes(emb: DataFrame,
      cents: DataFrame): DataFrame = {
    val s = emb.sparkSession
    import s.implicits._
    argminPacked(emb, cents, carryQv = true)
      .select($"vec_id", $"qv", $"cid",
        expr(SignW0Sql).as("w0"), expr(SignW1Sql).as("w1"))
  }

  /** The schema every stored centroid table (cid, cq) is read with. */
  private[graft] val CentroidSchema = "cid BIGINT, cq ARRAY<BIGINT>"

  /** A stored centroid table `path` (cid, cq) as driver rows — k rows,
    * read with its schema (no footer-inference job).
    */
  private[graft] def centroidRows(s: SparkSession,
      path: String): Seq[(Long, Seq[Long])] = {
    import s.implicits._
    s.read.schema(CentroidSchema).parquet(path)
      .as[(Long, Seq[Long])].collect().toSeq
  }

  /** Exact int64 Σ (aᵢ − bᵢ)², on the driver. */
  private[graft] def sqDist(a: Seq[Long], b: Seq[Long]): Long =
    a.lazyZip(b).map { (x, y) => (x - y) * (x - y) }.sum

  /** The `n` cells nearest to `v` among driver centroid rows, in the
    * (exact int64 distance, cid) order every router ranks cells by.
    */
  private[graft] def nearestCellIds(v: Seq[Long],
      cents: Seq[(Long, Seq[Long])], n: Int): Seq[Long] =
    cents.map { case (cid, cq) => (sqDist(v, cq), cid) }.sorted
      .take(n).map(_._2)

  /** Route queries to their [[IvfBinMaxProbe]] nearest cells with the
    * probe rank carried — (query_id, qw0, qw1, cid, prank). Centroids
    * broadcast; the serving batch is bounded (q40's query-set note).
    */
  private[graft] def ivfBinRoute(queries: DataFrame,
      cents: DataFrame): DataFrame = {
    val s = queries.sparkSession
    import s.implicits._
    queries.crossJoin(broadcast(cents))
      .withColumn("dist",
        graft.functions.VectorMath.sqDistLong($"q_qv", $"cq"))
      .withColumn("prank", row_number().over(
        Window.partitionBy($"query_id").orderBy($"dist", $"cid")))
      .filter($"prank" <= IvfBinMaxProbe)
      .select($"query_id", $"qw0", $"qw1", $"cid", $"prank")
  }

  /** The composed-tier operating-point table shared by q207 (in-memory)
    * and the persisted store's gate: per (nprobe, width, query) plus a
    * per-point overall rollup, recall@5 of the raw Hamming top-5 and of
    * the exact-refined top-5 against the shared exact ground truth.
    *
    * ONE Hamming pass at the widest operating point: candidates are
    * the probed cells' codes (cells partition the corpus, so a
    * neighbor appears at most once), folding MAP-SIDE to 100 rows per
    * (query, probed cell) through the bounded top-k aggregator with
    * (ham, neighbor) packed into the carried id — every narrower
    * nprobe's shortlist is then a filter + re-rank of this ≤
    * 4·100-rows-per-query relation, and every width's refined top-5 a
    * rank filter over ONE exact-refine join (the q191/q195 width-table
    * discipline, with the probe dimension stacked on top).
    */
  private[graft] def ivfBinaryReport(s: SparkSession, d: String,
      cellCodes: DataFrame, routed: DataFrame, queries: DataFrame,
      refineVecs: DataFrame => DataFrame,
      exactTag: String = "full"): DataFrame = {
    import s.implicits._
    val P = 1099511627776L // 2^40: ham·P + neighbor stays below 2^53
    val cell100 = cellCodes
      .join(broadcast(routed), Seq("cid"))
      .filter($"vec_id" =!= $"query_id")
      .select($"query_id", $"prank",
        (expr("CAST(bit_count(w0 ^ qw0) + bit_count(w1 ^ qw1) AS BIGINT)")
          * P + $"vec_id").as("packed"))
      .groupBy($"query_id", $"prank")
      .agg(graft.functions.BoundedAggs.topScored(
        -$"packed".cast("double"), $"packed", lit(true), 100).as("top"))
      .select($"query_id", $"prank", explode($"top.id").as("packed"))
      .select($"query_id", $"prank",
        expr(s"packed div ${P}L").as("ham"),
        expr(s"packed % ${P}L").as("neighbor"))
      .localCheckpoint(true)
    val rf = cell100.select($"query_id", $"neighbor").distinct()
      .join(refineVecs(cell100).select($"vec_id".as("neighbor"), $"qv"),
        "neighbor")
      .join(broadcast(queries.select($"query_id", $"q_qv")), "query_id")
      .select($"query_id", $"neighbor",
        graft.functions.VectorMath.sqDistLong($"qv", $"q_qv").as("dist"))
      .localCheckpoint(true)
    val probes = IvfBinProbes.toDF("nprobe")
    val widths = IvfBinWidths.toDF("width")
    val sl = cell100.join(broadcast(probes), $"prank" <= $"nprobe")
      .withColumn("srank", row_number().over(
        Window.partitionBy($"nprobe", $"query_id")
          .orderBy($"ham", $"neighbor")))
      .filter($"srank" <= IvfBinWidths.max)
      .localCheckpoint(true)
    val ex = exactTop(s, d, exactTag).filter($"rank" <= 5)
      .select($"query_id", $"neighbor")
    val nh = sl.filter($"srank" <= 5)
      .join(ex, Seq("query_id", "neighbor"), "left_semi")
      .groupBy($"nprobe", $"query_id").agg(count(lit(1)).as("n_ham"))
    val nr = sl.crossJoin(broadcast(widths))
      .filter($"srank" <= $"width")
      .join(rf, Seq("query_id", "neighbor"))
      .withColumn("wrank", row_number().over(
        Window.partitionBy($"nprobe", $"width", $"query_id")
          .orderBy($"dist", $"neighbor")))
      .filter($"wrank" <= 5)
      .join(ex, Seq("query_id", "neighbor"), "left_semi")
      .groupBy($"nprobe", $"width", $"query_id")
      .agg(count(lit(1)).as("n_refined"))
    val per = queries.select($"query_id")
      .crossJoin(broadcast(probes)).crossJoin(broadcast(widths))
      .join(nh, Seq("nprobe", "query_id"), "left")
      .join(nr, Seq("nprobe", "width", "query_id"), "left")
      .select($"nprobe", $"width", $"query_id", lit(5L).as("k"),
        coalesce($"n_ham", lit(0L)).as("n_ham"),
        coalesce($"n_refined", lit(0L)).as("n_refined"))
    val overall = per.groupBy($"nprobe", $"width")
      .agg(sum($"k").as("k"), sum($"n_ham").as("n_ham"),
        sum($"n_refined").as("n_refined"))
      .select($"nprobe", $"width", lit(-1L).as("query_id"), $"k",
        $"n_ham", $"n_refined")
    per.unionByName(overall)
      .select($"nprobe", $"width", $"query_id", $"k", $"n_ham",
        $"n_refined",
        expr("n_ham * 1000 div k").as("recall_ham_permille"),
        expr("n_refined * 1000 div k").as("recall_ref_permille"))
      .orderBy($"nprobe", $"width", $"query_id")
  }

  /** IVF×BINARY COMPOSED serve — the standard billion-vector recipe
    * and the adjudicated fix for the flat 1-bit tier's candidate mass
    * (the flat serve Hamming-scans EVERY code; here stage 0 routes
    * through the LEARNED coarse quantizer — the q147 lloydTrain loop —
    * stage 1 Hamming-scans ONLY the probed cells' codes, and stage 2
    * exact-refines the shortlist). The report sweeps nprobe × width
    * operating points against the shared exact ground truth, so the
    * recall cost of the routing cut is measured, not assumed.
    *
    * Scale: training is the q147 loop (per-round work one broadcast
    * argmin exchange); the serve's candidate mass is Σ probed-cell
    * sizes ≈ (nprobe/k)·N vs the flat tier's N — an 8× cut at
    * nprobe=2, k=16, growing with k at fleet scale — and every
    * per-candidate byte stays the 16-byte code. Candidates fold
    * map-side to ≤ 100·nprobe rows per query; the refine join fetches
    * full vectors for shortlist ids only. The persisted form
    * partitions codes by cell so a serve READS only probed
    * directories ([[IvfBinaryStore]]).
    */
  private def q207(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val emb = quantized(s, d)
    val seeds = emb.filter($"vec_id" < 16)
      .select($"vec_id".as("cid"), $"qv".as("cq"))
    val (cents, _) = lloydTrain(emb, seeds, LloydMaxIters, LloydMinImprove)
    val cellCodes = ivfBinCodes(emb, cents)
    val queries = binaryQueries(emb)
    val routed = ivfBinRoute(queries, cents)
    ivfBinaryReport(s, d, cellCodes, routed, queries, _ => emb)
  }

  /** The composed tier PERSISTED and MUTATED — the q202 lifecycle
    * gate on [[IvfBinaryStore]]: build (router trained on the build
    * two-thirds), ingest the rest as two exactly-once generations (one
    * deliberately replayed), tombstone every id ≡ 3 (mod 7), serve the
    * q207 operating-point report BEFORE compaction (phase 0) and AFTER
    * (phase 1). The oracle re-trains the router relationally on the
    * build subset, assigns the live set against it (one rule covers
    * build rows and ingested generations), and emits both phases from
    * one computation — so the hash proves ingest exactly-once under
    * the fixed router, delete masking, cell-partition-pruned serving,
    * and compaction transparency end-to-end.
    */
  private def q208(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val dir = Scratch.dir(s, "ivfbin/q208")
    val emb = quantized(s, d)
    IvfBinaryStore.build(emb.filter($"vec_id" % 3 =!= 2), dir)
    val gen1 = emb.filter($"vec_id" % 3 === 2 && $"vec_id" % 2 === 0)
    IvfBinaryStore.addBatch(s, dir, gen1, gen = 1L)
    IvfBinaryStore.addBatch(s, dir, gen1, gen = 1L) // replay: no-op
    IvfBinaryStore.addBatch(s, dir,
      emb.filter($"vec_id" % 3 === 2 && $"vec_id" % 2 === 1), gen = 2L)
    IvfBinaryStore.delete(s, dir, emb.filter($"vec_id" % 7 === 3)
      .select($"vec_id"))
    val queries = binaryQueries(emb)
    def phaseReport(phase: Long): DataFrame =
      IvfBinaryStore.serveReport(s, d, dir, queries, "bin_live")
        .select(lit(phase).as("phase"), $"nprobe", $"width", $"query_id",
          $"k", $"n_ham", $"n_refined", $"recall_ham_permille",
          $"recall_ref_permille")
    // phase 0 MUST materialize before compact: its plan reads the
    // pre-fold generation directories, which the post-commit GC
    // reclaims (retainEpochs defaults to 1)
    val pre = phaseReport(0L).localCheckpoint(true)
    IvfBinaryStore.compact(s, dir)
    pre.unionByName(phaseReport(1L))
      .orderBy($"phase", $"nprobe", $"width", $"query_id")
  }

  /** SemDeDup over the CONVERGED coarse quantizer — the semantic member
    * of the dedup family (exact/MinHash/SimHash/span/chunk are all
    * lexical; q93 is this shape's round-4 sketch on a single
    * assignment step). Cluster the embeddings with the converged Lloyd
    * (the q147/q152 quantizer), consider only WITHIN-CLUSTER pairs —
    * the O(N²) → O(Σ|cell|²) cut; the q40 routing argument, and cell
    * count scales with the corpus through the split machinery
    * ([[graft.operators.IvfIndex.splitCells]] keeps cells at ≤2× fair
    * share), so per-cell pair mass stays bounded at any corpus size —
    * flag pairs whose EXACT integer cosine crosses 2/5
    * (cross-multiplied: 25·dot² ≥ 4·|a|²·|b|², dot > 0 — operands
    * bounded far below int64 at this quantization), and DROP the
    * less-central member (larger distance to its own centroid, ties to
    * the larger id): SemDeDup's "keep the prototypical copy" rule,
    * which is exactly what makes it semantic — the survivor is chosen
    * by geometry, not by text length. One verdict row per document
    * (cid, vec_id, n_dup_pairs, is_dropped) — the APPLY artifact, like
    * q170's election at document granularity.
    *
    * Scale: centroids broadcast; ONE corpus argmin exchange; the pair
    * join shuffles on cid and streams its probe side, so AQE can
    * skew-split a hot cell; verdict rollups partial-aggregate. Nothing
    * driver-sized but the 16-row centroid table.
    */
  private def q171(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val emb = quantized(s, d)
    val seeds = emb.filter($"vec_id" < 16)
      .select($"vec_id".as("cid"), $"qv".as("cq"))
    val (learned, _) = lloydTrain(emb, seeds, LloydMaxIters, LloydMinImprove)
    val v = argminPacked(emb, learned, carryQv = true)
      .withColumn("n2", graft.functions.VectorMath.dotLong($"qv", $"qv"))
      .localCheckpoint(true)
    semDedupVerdicts(v)
  }

  /** The verdict core on assigned members (vec_id, dist, n2, qv plus
    * the grouping column `key`) — split out so the spec can feed a
    * constructed corpus, and generic over the cell key so the fixed
    * quantizer (q171: `cid` long) and the capped quantizer (q181:
    * `cell` path string) share one pair/drop rule.
    */
  private[graft] def semDedupVerdictsOn(v: DataFrame,
      key: String): DataFrame = {
    val s = v.sparkSession
    import s.implicits._
    val pairs = v.as("a").join(v.as("b"),
        col(s"a.$key") === col(s"b.$key") &&
          col("a.vec_id") < col("b.vec_id"))
      .withColumn("dot",
        graft.functions.VectorMath.dotLong(col("a.qv"), col("b.qv")))
      .filter($"dot" > 0 &&
        $"dot" * $"dot" * lit(25L) >= col("a.n2") * col("b.n2") * lit(4L))
      .select(col("a.vec_id").as("ia"), col("b.vec_id").as("ib"),
        when(col("a.dist") > col("b.dist") ||
          (col("a.dist") === col("b.dist") &&
            col("a.vec_id") > col("b.vec_id")),
          col("a.vec_id")).otherwise(col("b.vec_id")).as("drop_id"))
      .localCheckpoint(true)
    val perDoc = pairs.select(explode(array($"ia", $"ib")).as("vec_id"))
      .groupBy($"vec_id").agg(count(lit(1)).as("n_dup_pairs"))
    val dropped = pairs.select($"drop_id".as("vec_id")).distinct()
      .withColumn("is_dropped", lit(1L))
    v.select($"vec_id", col(key))
      .join(perDoc, Seq("vec_id"), "left")
      .join(dropped, Seq("vec_id"), "left")
      .select(col(key), $"vec_id",
        coalesce($"n_dup_pairs", lit(0L)).as("n_dup_pairs"),
        coalesce($"is_dropped", lit(0L)).as("is_dropped"))
      .orderBy(col(key), $"vec_id")
  }

  /** q171's verdict core on (vec_id, cid, dist, n2, qv). */
  private[graft] def semDedupVerdicts(v: DataFrame): DataFrame =
    semDedupVerdictsOn(
      v.withColumn("cid", col("cid").cast("long")), "cid")

  /** Cell-size cap the PRODUCTION SemDeDup entry (q181) enforces, and
    * the fixed split-round unroll bound its oracle replays. The cap is
    * what makes intra-cell pair mass LINEAR in corpus size
    * (Σ|cell|² ≤ cap·N) — the q171 gate form's fixed 16-cell quantizer
    * is quadratic (12.57M → 1.258B pairs for 10×, BENCH_SF10.json
    * `semdedup_scaling_round11`).
    * MaxRounds bounds the recursion depth: 16 halvings cover a 2^16×
    * over-cap cell under balanced splits — far past any gated scale —
    * and rounds after convergence are identities, so the oracle can
    * unroll the fixed count while the engine stops early.
    */
  private[graft] val SemDedupCap = 24L
  private[graft] val SemDedupMaxRounds = 16

  /** CAP-BOUNDED quantizer — the recursive-split production posture of
    * SemDeDup's clustering: start from the converged coarse Lloyd
    * assignment and, round by round, BISECT every cell holding more
    * than `cap` members at its MEDIAN along the cell's spread chord —
    * project each member onto the axis from the cell's most-central to
    * its most-peripheral member (both argmin/argmax by (dist, vec_id),
    * so deterministic; the projection is one exact int64 dot), put the
    * lower half (projection ≤ the floor(n/2)-ranked VALUE, ranked by
    * (projection, vec_id)) in sub-cell 0 and the rest in sub-cell 1,
    * and give each half its own floor-mean centroid (the leaf geometry
    * the "less central" drop rule measures against). Splitting by the
    * median VALUE — never by rank alone — means identical vectors have
    * identical projections and can never straddle a split: exact
    * duplicates always co-land. Cell identity is the split PATH
    * ("7", "7/0", "7/0/1", …), so the recursion is deterministic and
    * the DuckDB oracle replays it with fixed-round unrolling (a round
    * with no over-cap cell is an identity).
    *
    * Median bisection, not 2-means: a first cut ran one-update 2-means
    * per hot cell and its unbalanced splits STALLED on the 10×-
    * replicated sf1 corpus (16 rounds left a 200-member cell over cap
    * 24). The median cut halves a cell up to projection ties, so depth
    * is log₂(max_cell/cap) plus tie slack by construction; the only
    * unsplittable cell is one where more than half the members share an
    * exact projection (e.g. > cap copies of one point), and that fails
    * LOUDLY after `maxRounds` instead of quietly violating the cap.
    * Returns (vec_id, cell STRING, dist = squared distance to the LEAF
    * centroid).
    *
    * Scale: each round touches ONLY over-cap cells' members (one join
    * to re-attach vectors — co-partitionable by bucketing the corpus
    * on vec_id; one broadcast axis/threshold/mean row pair per hot
    * cell; one map-side-combined mean rollup). The median rank runs as
    * a window per hot cell — round 0's hottest partition is
    * ~corpus/nlists rows, the same mass the UNCAPPED form would put
    * through one task QUADRATICALLY as pairs; here it is one sort,
    * once, and halves every round. Output guarantees Σ|cell|² ≤ cap·N
    * — intra-cell pair mass LINEAR in corpus size.
    */
  /** The capped quantizer's ROUTING CONFIG — everything a new vector
    * needs to be assigned to a leaf without replaying the training
    * data: the base coarse centroids, plus per split cell its chord
    * axis and median threshold. Serializable driver-side arrays
    * (≤ nlists + one row per split — metadata-scale), so a streaming
    * operator can broadcast it in a closure. `route` reproduces the
    * recursion's assignment exactly: base argmin by (dist, cid), then
    * walk the split tree by `p > t`.
    */
  private[graft] case class CappedQuantizer(
      cents: Array[(Long, Array[Long])],
      splits: Map[String, (Array[Long], Long)]) {
    def route(qv: Array[Long]): String = {
      var bestC = Long.MaxValue
      var bestD = Long.MaxValue
      cents.foreach { case (c, cq) =>
        var d = 0L; var i = 0
        while (i < cq.length) { val z = qv(i) - cq(i); d += z * z; i += 1 }
        if (d < bestD || (d == bestD && c < bestC)) { bestD = d; bestC = c }
      }
      var cell = bestC.toString
      var nxt = splits.get(cell)
      while (nxt.isDefined) {
        val (ax, t) = nxt.get
        var p = 0L; var i = 0
        while (i < ax.length) { p += qv(i) * ax(i); i += 1 }
        cell = cell + "/" + (if (p > t) "1" else "0")
        nxt = splits.get(cell)
      }
      cell
    }
  }

  private[graft] def cappedCells(emb: DataFrame, learned: DataFrame,
      cap: Long, maxRounds: Int): DataFrame =
    cappedQuantizer(emb, learned, cap, maxRounds)._1

  /** [[cappedCells]] plus the recursion's routing config
    * ([[CappedQuantizer]]) — each round's (cell → axis, threshold)
    * rows are collected as they are computed (bounded by the hot-cell
    * count, metadata-scale), so an online consumer can route NEW
    * vectors through the identical split tree.
    */
  private[graft] def cappedQuantizer(emb: DataFrame, learned: DataFrame,
      cap: Long, maxRounds: Int): (DataFrame, CappedQuantizer) = {
    val s = emb.sparkSession
    import s.implicits._
    val centsArr = learned.select($"cid".cast("long"), $"cq")
      .as[(Long, Array[Long])].collect()
    val splitsAcc =
      scala.collection.mutable.Map[String, (Array[Long], Long)]()
    var state = argminPacked(emb, learned)
      .select($"vec_id", $"cid".cast("string").as("cell"), $"dist")
      .localCheckpoint(true)
    var round = 0
    var hot = state.groupBy($"cell").agg(count(lit(1)).as("n"))
      .filter($"n" > cap).select($"cell").localCheckpoint(true)
    while (round < maxRounds && !hot.isEmpty) {
      val hm = state.join(hot, Seq("cell"), "left_semi")
        .join(emb, "vec_id")
        .select($"vec_id", $"cell", $"dist", $"qv")
      // spread chord: most-central -> most-peripheral member, both
      // deterministic under (dist, vec_id) ties
      val ax = hm.groupBy($"cell")
        .agg(expr("min_by(qv, struct(dist, vec_id))").as("s0"),
          expr("max_by(qv, struct(dist, vec_id))").as("s1"))
        .select($"cell", expr("zip_with(s1, s0, (a, b) -> a - b)").as("ax"))
      val pj = hm.join(broadcast(ax), "cell")
        .withColumn("p", graft.functions.VectorMath.dotLong($"qv", $"ax"))
      // the median VALUE: projection at rank floor(n/2) under the
      // (p, vec_id) total order — value-split keeps ties together
      val th = pj
        .withColumn("rn", row_number().over(
          Window.partitionBy($"cell").orderBy($"p", $"vec_id")))
        .withColumn("n", count(lit(1)).over(Window.partitionBy($"cell")))
        .groupBy($"cell")
        .agg(max(when($"rn" * 2 <= $"n", $"p")).as("t"))
      // record this round's routing metadata (bounded by hot cells)
      ax.join(th, "cell").select($"cell", $"ax", $"t")
        .as[(String, Array[Long], Long)].collect()
        .foreach { case (c, a, t) => splitsAcc(c) = (a, t) }
      val a0 = pj.join(broadcast(th), "cell")
        .withColumn("sub", when($"p" > $"t", lit(1L)).otherwise(lit(0L)))
      // each half's floor-mean centroid (lloydPass's integer-exact
      // transform) — the leaf geometry the verdicts rank "central" by
      val means = a0.groupBy($"cell", $"sub")
        .agg(count(lit(1)).as("n"),
          graft.functions.BoundedAggs.vecSum($"qv").as("sums"))
        .select($"cell", $"sub",
          expr("transform(sums, sv -> CAST(floor(CAST(sv AS DOUBLE) / n) AS BIGINT))")
            .as("mcq"))
      val a1 = a0.join(broadcast(means), Seq("cell", "sub"))
        .select($"vec_id",
          concat($"cell", lit("/"), $"sub".cast("string")).as("cell"),
          graft.functions.VectorMath.sqDistLong($"qv", $"mcq").as("dist"))
      // re-select the canonical order: a USING-style anti join hoists
      // the key column first, which would make the output schema order
      // depend on whether any split happened
      state = state.join(hot, Seq("cell"), "left_anti")
        .select($"vec_id", $"cell", $"dist")
        .unionByName(a1.select($"vec_id", $"cell", $"dist"))
        .localCheckpoint(true)
      hot = state.groupBy($"cell").agg(count(lit(1)).as("n"))
        .filter($"n" > cap).select($"cell").localCheckpoint(true)
      round += 1
    }
    if (!hot.isEmpty) {
      val worst = state.groupBy($"cell").agg(count(lit(1)).as("n"))
        .agg(max($"n")).head().getLong(0)
      throw new IllegalStateException(
        s"cappedCells: $maxRounds split rounds left a cell of $worst " +
          s"members over the cap $cap — more than half of an over-cap " +
          "cell shares one exact projection (e.g. > cap copies of one " +
          "point: no deterministic value-split can separate them), or " +
          "raise maxRounds")
    }
    (state, CappedQuantizer(centsArr, splitsAcc.toMap))
  }

  /** PRODUCTION-POSTURE SemDeDup — q171's verdict rule over the
    * CAP-BOUNDED quantizer ([[cappedCells]]), with the pre-pass every
    * real pipeline runs first: EXACT-duplicate vectors collapse to one
    * representative (min vec_id) before the semantic stage. The
    * collapse is what makes the cap ENFORCEABLE at any duplication
    * factor — a 100×-replicated corpus puts > cap copies of one exact
    * point in one cell, and no geometric split can separate identical
    * vectors (observed: the uncollapsed form failed loudly at sf10) —
    * and it is also semantically right: exact copies need no cosine to
    * be declared duplicates, so the quadratic-in-group-size pair mass
    * they would generate is replaced by group arithmetic. The capped
    * recursion then bounds the REMAINING (distinct-vector) intra-cell
    * pair mass to Σ|cell|² ≤ cap·N_distinct — LINEAR where the q171
    * gate form is quadratic (both recorded in BENCH_SF10.json
    * `semdedup_scaling_round12`).
    *
    * Verdicts at document granularity: a non-representative copy
    * always drops (exact duplicate); a representative drops by the
    * q171 rule (exact-integer cosine 2/5 within its LEAF cell, the
    * less-central member loses, ties to the larger id). Output one row
    * per document: (cell path, vec_id, rep_id, n_copies of its exact
    * group, n_sem_pairs of its representative, is_dropped).
    */
  /** The capped SemDeDup core shared by q181 and q184's release stage:
    * exact-duplicate collapse to min-id representatives, the capped
    * recursion over the representatives, and the verdict rule within
    * leaves. Returns (groups: (qv, rep_id, n_copies), repVerdicts:
    * (cell, vec_id = rep, n_dup_pairs, is_dropped)).
    */
  private[graft] def cappedSemVerdicts(emb: DataFrame,
      learned: DataFrame): (DataFrame, DataFrame) = {
    val s = emb.sparkSession
    import s.implicits._
    val groups = emb.groupBy($"qv")
      .agg(min($"vec_id").as("rep_id"), count(lit(1)).as("n_copies"))
      .localCheckpoint(true)
    val reps = groups.select($"rep_id".as("vec_id"), $"qv")
    val leaves = cappedCells(reps, learned, SemDedupCap, SemDedupMaxRounds)
    val v = leaves.join(reps, "vec_id")
      .withColumn("n2", graft.functions.VectorMath.dotLong($"qv", $"qv"))
      .select($"vec_id", $"cell", $"dist", $"n2", $"qv")
      .localCheckpoint(true)
    (groups, semDedupVerdictsOn(v, "cell"))
  }

  private def q181(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val emb = quantized(s, d)
    val seeds = emb.filter($"vec_id" < 16)
      .select($"vec_id".as("cid"), $"qv".as("cq"))
    val (learned, _) = lloydTrain(emb, seeds, LloydMaxIters, LloydMinImprove)
    val (groups, verd0) = cappedSemVerdicts(emb, learned)
    val verd = verd0
      .withColumnRenamed("vec_id", "rep_id")
      .withColumnRenamed("n_dup_pairs", "n_sem_pairs")
      .withColumnRenamed("is_dropped", "rep_dropped")
    emb.join(groups, "qv")
      .join(verd, "rep_id")
      .select($"cell", $"vec_id", $"rep_id", $"n_copies", $"n_sem_pairs",
        when($"vec_id" =!= $"rep_id", lit(1L)).otherwise($"rep_dropped")
          .as("is_dropped"))
      .orderBy($"cell", $"vec_id")
  }

  /** EMBEDDING DRIFT MONITOR — the model-QA signal a production
    * embedding pipeline watches: as ingestion proceeds, does the
    * incoming batches' geometry still look like the corpus the coarse
    * quantizer (and the ANN index routed by it) was trained on? Ten
    * ingest-order slices (q126's crawl-order slicing rule on vec_id);
    * per slice: vector count, total-variation distance of the slice's
    * cell-occupancy distribution vs the CORPUS distribution (integer
    * permille via cross-multiplication — `500·Σ|n_sc·N − n_c·N_s| /
    * (N_s·N)`, exact in int64 at any slice size this engine reaches),
    * and the slice's mean quantization distortion (floor int64) — TVD
    * catches routing drift (new content concentrating in different
    * cells ⇒ skewed serve + stale centroids), distortion catches
    * out-of-manifold drift (cells still balanced but everything far
    * from every centroid ⇒ retrain/split time). The assignment is the
    * converged Lloyd the index entries share, so the monitor watches
    * exactly the structure the serving path routes by.
    *
    * Scale: ONE corpus argmin pass (broadcast centroids, map-side
    * packed-argmin combine); everything after is per-(slice, cell)
    * rollups — ≤ 10×nlists rows. The slice boundary derives from the
    * max id by cross-multiplication (no percentile scan).
    */
  private def q174(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val emb = quantized(s, d)
    val seeds = emb.filter($"vec_id" < 16)
      .select($"vec_id".as("cid"), $"qv".as("cq"))
    val (learned, _) = lloydTrain(emb, seeds, LloydMaxIters, LloydMinImprove)
    val mx = emb.agg(max($"vec_id").as("mx"))
    val assigned = argminPacked(emb, learned)
      .crossJoin(broadcast(mx))
      .select($"vec_id", $"cid", $"dist",
        expr("least(9, vec_id * 10 div (mx + 1))").as("slice"))
      .localCheckpoint(true)
    val sc = assigned.groupBy($"slice", $"cid")
      .agg(count(lit(1)).as("n_sc"))
    val cC = assigned.groupBy($"cid").agg(count(lit(1)).as("n_c"))
    val sTot = assigned.groupBy($"slice")
      .agg(count(lit(1)).as("n_s"), sum($"dist").as("dsum"))
    val nAll = assigned.agg(count(lit(1)).as("n_all"))
    // the TVD sum must range over every (slice, cell) with mass on
    // EITHER side; a slice always has >= 1 vector in some cell, and a
    // corpus cell absent from a slice still contributes |0 - n_c·N_s|
    // — hence the full slice × cell frame, not just observed pairs
    val frame = sTot.select($"slice", $"n_s")
      .crossJoin(broadcast(cC))
      .join(sc, Seq("slice", "cid"), "left")
      .withColumn("n_sc", coalesce($"n_sc", lit(0L)))
    val tvd = frame.crossJoin(broadcast(nAll))
      .groupBy($"slice")
      .agg(sum(abs($"n_sc" * $"n_all" - $"n_c" * $"n_s")).as("num"),
        first($"n_s").as("n_s2"), first($"n_all").as("n_all2"))
      .select($"slice",
        expr("500 * num div (n_s2 * n_all2)").as("tvd_permille"))
    sTot.join(tvd, "slice")
      .select($"slice", $"n_s".as("n_vecs"), $"tvd_permille",
        expr("dsum div n_s").as("mean_dist"))
      .orderBy($"slice")
  }

  private def q147(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val emb = quantized(s, d)
    val seeds = emb.filter($"vec_id" < 16)
      .select($"vec_id".as("cid"), $"qv".as("cq"))
    val (learned, _) = lloydTrain(emb, seeds, LloydMaxIters, LloydMinImprove)
    val assigned = argminPacked(emb, learned, carryQv = true).drop("dist")
    val queries = emb.filter($"vec_id" % 100 === 0)
      .crossJoin(broadcast(learned))
      .withColumn("dist", graft.functions.VectorMath.sqDistLong($"qv", $"cq"))
      .withColumn("crank", row_number().over(
        Window.partitionBy($"vec_id").orderBy($"dist", $"cid")))
      .filter($"crank" <= 2)
      .select($"vec_id".as("query_id"), $"qv".as("probe_qv"), $"cid")
    val w = Window.partitionBy($"query_id").orderBy($"dist", $"neighbor")
    assigned.join(broadcast(queries), Seq("cid"))
      .filter($"vec_id" =!= $"query_id")
      .select($"query_id", $"vec_id".as("neighbor"),
        graft.functions.VectorMath.sqDistLong($"qv", $"probe_qv").as("dist"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter($"rank" <= 5)
      .select($"query_id", $"rank", $"neighbor", $"dist")
      .orderBy($"query_id", $"rank")
  }

  /** Lloyd-iteration convergence report — the metric an index-build
    * pipeline watches while training the q147 coarse quantizer: per
    * iteration of the FULL converged [[lloydTrain]] run (0 = raw
    * seeds, then one row per Lloyd step up to the convergence stop),
    * the number of non-empty cells, the hottest cell's size (routing
    * skew — a too-hot cell is the IVF analog of a hot shuffle key),
    * and the total distortion (sum of each vector's squared distance
    * to its centroid — Lloyd's objective; non-increasing while the
    * loop runs, with the final row allowed to flatline or tick up by
    * < [[LloydMinImprove]] because floor-quantized means void strict
    * monotonicity at the fixed point — that is exactly the stop
    * signal). All int64-exact: distortion sums are bounded by ~2.6e8
    * per vector, so int64 holds to ~3·10^10 vectors; the stats ride
    * the SAME pass as each round's centroid update (lloydPass), so the
    * report costs no extra scans over the training itself.
    *
    * Scale: each iteration is one broadcast packed-argmin pass (one
    * long + one carried vector per corpus row through its shuffle) + a
    * 16-row rollup; more iterations append more rows — the driver-loop
    * count is the bound, exactly like q144's merge rounds, with data
    * work constant per round.
    */
  private def q149(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val emb = quantized(s, d)
    val seeds = emb.filter($"vec_id" < 16)
      .select($"vec_id".as("cid"), $"qv".as("cq"))
    val (_, rounds) = lloydTrain(emb, seeds, LloydMaxIters, LloydMinImprove)
    rounds.map(r => (r.iter, r.nCells, r.nVecs, r.maxCell, r.distortion))
      .toDF("iter", "n_cells", "n_vecs", "max_cell", "distortion")
      .orderBy($"iter")
  }

  /** The hyperplane family in DuckDB: sign p at dim i = low bit of
    * splitmix64(p·1000003 + i) (see [[graft.functions.VectorHashes]]);
    * the sm64 macro chain reproduces the JVM mixer exactly.
    */
  private def bucketSql(v: String): String =
    (0 until 4).map { p =>
      s"""(CASE WHEN list_sum(list_transform($v, (x, i) ->
         CASE WHEN sm64(CAST(${p}*1000003 + i - 1 AS HUGEINT)) % 2 = 1
         THEN x ELSE -x END)) >= 0 THEN ${1 << p} ELSE 0 END)"""
    }.mkString(" + ")

  /** ANN index-quality evaluation — recall@5 of the IVF index (q40,
    * 2-probe) against exact brute force (q37), per query and overall:
    * the metric every vector-index deployment tracks before trading
    * exactness for the O(probes/cells) scan cut. Both result sets are
    * already individually hash-verified; the intersection is a pure
    * id-set operation (semi-join), so recall is integer-exact — no
    * similarity tolerance needed to gate an approximate index.
    *
    * Scale: both inputs end at ~|queries|·k rows regardless of corpus
    * size; the evaluation itself is free. Run it on a sampled query set
    * after every index rebuild — this query IS that harness.
    */
  private def q125(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ex = q37(s, d).select($"query_id", $"neighbor")
    val iv = q40(s, d).select($"query_id", $"neighbor")
    val matches = ex.join(iv, Seq("query_id", "neighbor"), "left_semi")
      .groupBy($"query_id").agg(count(lit(1)).as("nm"))
    val per = ex.groupBy($"query_id").agg(count(lit(1)).as("k"))
      .join(matches, Seq("query_id"), "left")
      .select($"query_id", $"k", coalesce($"nm", lit(0L)).as("n_match"))
    val overall = per.agg(sum($"k").as("k"), sum($"n_match").as("n_match"))
      .select(lit(-1L).as("query_id"), $"k", $"n_match")
    per.unionByName(overall)
      .withColumn("recall_permille", expr("n_match * 1000 div k"))
      .orderBy($"query_id")
  }

  private val Knn37Sql: String =
    """WITH n AS (
           SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
         m AS (
           SELECT vec_id, v,
             sqrt(list_sum(list_transform(v, x -> x*x))) AS nrm
           FROM n),
         q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn
               FROM m WHERE vec_id % 100 = 0),
         pairs AS (
           SELECT query_id, m.vec_id AS neighbor,
             round(list_sum(list_transform(list_zip(m.v, qv), x -> x[1]*x[2]))
               / (nrm * qn), 6) AS cosine
           FROM m, q WHERE m.vec_id <> query_id),
         ranked AS (
           SELECT query_id, neighbor, cosine,
             CAST(row_number() OVER (PARTITION BY query_id
               ORDER BY cosine DESC, neighbor) AS BIGINT) AS rank
           FROM pairs)
         SELECT query_id, neighbor, cosine, rank FROM ranked
         WHERE rank <= 5 ORDER BY query_id, rank"""

  private val Ivf40Sql: String =
    """WITH m AS (
           SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
         n AS (SELECT vec_id, v,
                 sqrt(list_sum(list_transform(v, x -> x*x))) AS nrm FROM m),
         c AS (SELECT vec_id AS cent_id, v AS cv, nrm AS cn
               FROM n WHERE vec_id < 16),
         scored AS (
           SELECT n.vec_id, n.v, n.nrm, c.cent_id,
             list_sum(list_transform(list_zip(n.v, c.cv), x -> x[1]*x[2]))
               / (n.nrm * c.cn) AS csim
           FROM n, c),
         assign AS (
           SELECT vec_id, v, nrm, cent_id,
             row_number() OVER (PARTITION BY vec_id
               ORDER BY csim DESC, cent_id) AS crank
           FROM scored),
         assigned AS (SELECT vec_id, v, nrm, cent_id FROM assign WHERE crank = 1),
         q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn, cent_id
               FROM assign WHERE crank <= 2 AND vec_id % 100 = 0),
         pairs AS (
           SELECT q.query_id, a.vec_id AS neighbor,
             round(list_sum(list_transform(list_zip(a.v, q.qv), x -> x[1]*x[2]))
               / (a.nrm * q.qn), 6) AS cosine
           FROM assigned a JOIN q ON a.cent_id = q.cent_id
           WHERE a.vec_id <> q.query_id),
         ranked2 AS (
           SELECT query_id, neighbor, cosine,
             CAST(row_number() OVER (PARTITION BY query_id
               ORDER BY cosine DESC, neighbor) AS BIGINT) AS rank
           FROM pairs)
         SELECT query_id, neighbor, cosine, rank FROM ranked2
         WHERE rank <= 5 ORDER BY query_id, rank"""

  /** DuckDB replay of the [[lloydTrain]] loop: one (distance →
    * argmin-assignment → report, then floor-mean update) CTE block per
    * unrolled stage, then the convergence decision itself as SQL — a
    * lag window over the per-stage distortions picks `stop_iter` (first
    * improvement < minImprove, else maxIters), exactly the driver
    * loop's stop rule. Intermediate stages MATERIALIZED (the q144
    * lesson: chained CTEs referenced multiply inline exponentially).
    * Emits the WITH body only; callers append their own final CTEs
    * (q149 filters the report rows, q147 selects the stop-stage
    * centroid/assignment tables and serves through them).
    */
  private[graft] def lloydCtes(maxIters: Int, minImprove: Long,
      srcWhere: String = "", seedWhere: String = "vec_id < 16"): String = {
    val sb = new StringBuilder
    sb ++=
      s"""allq AS MATERIALIZED (
           SELECT vec_id, list_transform(embedding,
             x -> CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT)) AS qv
           FROM embeddings),
         q AS MATERIALIZED (SELECT * FROM allq $srcWhere),
         c0 AS MATERIALIZED (
           SELECT vec_id AS cid, qv AS cq FROM q WHERE $seedWhere)"""
    for (r <- 0 to maxIters) {
      sb ++= s""",
         d$r AS (
           SELECT q.vec_id, c.cid,
             CAST(list_sum(list_transform(list_zip(q.qv, c.cq),
               z -> (z[1] - z[2]) * (z[1] - z[2]))) AS BIGINT) AS dist
           FROM q, c$r c),
         a$r AS MATERIALIZED (
           SELECT vec_id, cid, dist FROM (
             SELECT *, row_number() OVER (PARTITION BY vec_id
               ORDER BY dist, cid) AS rn FROM d$r) WHERE rn = 1),
         r$r AS (
           SELECT CAST($r AS BIGINT) AS iter,
             CAST(count(DISTINCT cid) AS BIGINT) AS n_cells,
             CAST(count(*) AS BIGINT) AS n_vecs,
             (SELECT CAST(max(c) AS BIGINT) FROM
               (SELECT count(*) AS c FROM a$r GROUP BY cid)) AS max_cell,
             CAST(sum(dist) AS BIGINT) AS distortion
           FROM a$r)"""
      if (r < maxIters) sb ++= s""",
         c${r + 1} AS MATERIALIZED (
           SELECT cid, list(CAST(floor(CAST(sdim AS DOUBLE) / nvec) AS BIGINT)
             ORDER BY i) AS cq
           FROM (SELECT a$r.cid, t.i, sum(q.qv[t.i]) AS sdim,
                   count(*) AS nvec
                 FROM a$r JOIN q USING (vec_id),
                   generate_series(1, 64) AS t(i)
                 GROUP BY 1, 2)
           GROUP BY cid)"""
    }
    val union = (0 to maxIters).map(r => s"SELECT * FROM r$r")
      .mkString(" UNION ALL ")
    sb ++= s""",
         allr AS ($union),
         lagd AS (SELECT *, lag(distortion) OVER (ORDER BY iter) AS prev
                  FROM allr),
         stop AS (SELECT coalesce(min(iter), $maxIters) AS stop_iter
                  FROM lagd
                  WHERE prev IS NOT NULL AND prev - distortion < $minImprove)"""
    sb.result()
  }

  private def q149OracleSql: String =
    s"""WITH ${lloydCtes(LloydMaxIters, LloydMinImprove)}
         SELECT iter, n_cells, n_vecs, max_cell, distortion
         FROM allr, stop WHERE iter <= stop_iter ORDER BY iter"""

  /** The converged centroid (`cstar`) and assignment (`astar`) tables:
    * tagged unions over the unrolled stages filtered by `stop_iter` —
    * the relational form of "the table the driver loop returned".
    */
  private[graft] def lloydStarCtes(maxIters: Int): String = {
    val centsUnion = (0 to maxIters)
      .map(r => s"SELECT CAST($r AS BIGINT) AS it, cid, cq FROM c$r")
      .mkString(" UNION ALL ")
    val assignUnion = (0 to maxIters)
      .map(r => s"SELECT CAST($r AS BIGINT) AS it, vec_id, cid FROM a$r")
      .mkString(" UNION ALL ")
    s"""cstar AS MATERIALIZED (
           SELECT u.cid, u.cq FROM ($centsUnion) u, stop
           WHERE u.it = stop.stop_iter),
         astar AS MATERIALIZED (
           SELECT u.vec_id, u.cid FROM ($assignUnion) u, stop
           WHERE u.it = stop.stop_iter)"""
  }

  private def q147OracleSql: String = {
    s"""WITH ${lloydCtes(LloydMaxIters, LloydMinImprove)},
         ${lloydStarCtes(LloydMaxIters)},
         qs AS (
           SELECT vec_id AS query_id, qv, cid FROM (
             SELECT q.vec_id, q.qv, c.cid,
               row_number() OVER (PARTITION BY q.vec_id ORDER BY
                 list_sum(list_transform(list_zip(q.qv, c.cq),
                   z -> (z[1] - z[2]) * (z[1] - z[2]))), c.cid) AS rn
             FROM q, cstar c WHERE q.vec_id % 100 = 0) WHERE rn <= 2),
         cand AS (
           SELECT qs.query_id, astar.vec_id AS neighbor,
             CAST(list_sum(list_transform(list_zip(aq.qv, qs.qv),
               z -> (z[1] - z[2]) * (z[1] - z[2]))) AS BIGINT) AS dist
           FROM astar JOIN q aq USING (vec_id) JOIN qs ON astar.cid = qs.cid
           WHERE astar.vec_id <> qs.query_id),
         ranked AS (
           SELECT query_id, neighbor, dist,
             CAST(row_number() OVER (PARTITION BY query_id
               ORDER BY dist, neighbor) AS BIGINT) AS rank
           FROM cand)
         SELECT query_id, rank, neighbor, dist FROM ranked
         WHERE rank <= 5 ORDER BY query_id, rank"""
  }

  private def q171OracleSql: String =
    s"""WITH ${lloydCtes(LloydMaxIters, LloydMinImprove)},
         ${lloydStarCtes(LloydMaxIters)},
         v AS MATERIALIZED (
           SELECT a.vec_id, CAST(a.cid AS BIGINT) AS cid, q.qv,
             CAST(list_sum(list_transform(list_zip(q.qv, c.cq),
               z -> (z[1] - z[2]) * (z[1] - z[2]))) AS BIGINT) AS dist,
             CAST(list_sum(list_transform(q.qv, x -> x * x))
               AS BIGINT) AS n2
           FROM astar a JOIN q USING (vec_id) JOIN cstar c USING (cid)),
         pr0 AS (
           SELECT a.vec_id AS ia, b.vec_id AS ib, a.dist AS da,
             b.dist AS db,
             CAST(list_sum(list_transform(list_zip(a.qv, b.qv),
               z -> z[1] * z[2])) AS BIGINT) AS dot,
             a.n2 AS na, b.n2 AS nb
           FROM v a JOIN v b ON a.cid = b.cid AND a.vec_id < b.vec_id),
         pr AS MATERIALIZED (
           SELECT ia, ib,
             CASE WHEN da > db OR (da = db AND ia > ib)
                  THEN ia ELSE ib END AS drop_id
           FROM pr0 WHERE dot > 0 AND dot * dot * 25 >= na * nb * 4),
         perdoc AS (
           SELECT vec_id, CAST(count(*) AS BIGINT) AS n_dup_pairs
           FROM (SELECT ia AS vec_id FROM pr
                 UNION ALL SELECT ib FROM pr)
           GROUP BY 1),
         dropped AS (SELECT DISTINCT drop_id AS vec_id FROM pr)
         SELECT v.cid, v.vec_id,
           coalesce(perdoc.n_dup_pairs, 0) AS n_dup_pairs,
           CAST(CASE WHEN dropped.vec_id IS NOT NULL THEN 1 ELSE 0 END
             AS BIGINT) AS is_dropped
         FROM v LEFT JOIN perdoc USING (vec_id)
           LEFT JOIN dropped USING (vec_id)
         ORDER BY cid, vec_id"""

  /** The [[cappedCells]] recursion as fixed-round unrolled SQL: per
    * round, the over-cap cells (`hot`), their members with vectors
    * (`hm`), the spread-chord axis (`ax` — most-central minus
    * most-peripheral member under (dist, vec_id)), the projections
    * (`pj`), the median VALUE threshold (`th`), the half assignment
    * (`a0`), each half's floor-mean centroid (`mc`), the re-pathed
    * members with their leaf distance (`a1`), and the next state
    * (pass-through non-hot ∪ split halves). A round whose hot set is
    * empty is an identity, which is what lets the fixed unroll replay
    * the engine's converge-and-stop driver loop exactly.
    */
  private[graft] def cappedCtes(cap: Long, rounds: Int): String = {
    val sb = new StringBuilder
    sb ++= s"""grp AS MATERIALIZED (
           SELECT min(vec_id) AS rep_id, qv,
             CAST(count(*) AS BIGINT) AS n_copies
           FROM q GROUP BY qv),
         st0 AS MATERIALIZED (
           SELECT a.vec_id, CAST(a.cid AS VARCHAR) AS cell,
             CAST(list_sum(list_transform(list_zip(q.qv, c.cq),
               z -> (z[1] - z[2]) * (z[1] - z[2]))) AS BIGINT) AS dist
           FROM astar a
             JOIN (SELECT rep_id AS vec_id FROM grp) r USING (vec_id)
             JOIN q USING (vec_id) JOIN cstar c USING (cid))"""
    for (r <- 0 until rounds) {
      sb ++= s""",
         hot$r AS MATERIALIZED (
           SELECT cell FROM st$r GROUP BY 1 HAVING count(*) > $cap),
         hm$r AS MATERIALIZED (
           SELECT s.vec_id, s.cell, s.dist, q.qv
           FROM st$r s JOIN hot$r USING (cell) JOIN q USING (vec_id)),
         ax$r AS (
           SELECT lo.cell, list_transform(list_zip(hi.qv, lo.qv),
             z -> z[1] - z[2]) AS ax
           FROM (SELECT cell, qv FROM (
                   SELECT cell, qv, row_number() OVER (PARTITION BY cell
                     ORDER BY dist, vec_id) AS rn FROM hm$r)
                 WHERE rn = 1) lo
           JOIN (SELECT cell, qv FROM (
                   SELECT cell, qv, row_number() OVER (PARTITION BY cell
                     ORDER BY dist DESC, vec_id DESC) AS rn FROM hm$r)
                 WHERE rn = 1) hi USING (cell)),
         pj$r AS MATERIALIZED (
           SELECT m.vec_id, m.cell, m.qv,
             CAST(list_sum(list_transform(list_zip(m.qv, x.ax),
               z -> z[1] * z[2])) AS BIGINT) AS p
           FROM hm$r m JOIN ax$r x USING (cell)),
         th$r AS (
           SELECT cell, max(CASE WHEN rn * 2 <= n THEN p END) AS t
           FROM (SELECT cell, p,
                   row_number() OVER (PARTITION BY cell
                     ORDER BY p, vec_id) AS rn,
                   count(*) OVER (PARTITION BY cell) AS n
                 FROM pj$r)
           GROUP BY 1),
         a0_$r AS MATERIALIZED (
           SELECT j.vec_id, j.cell, j.qv,
             CASE WHEN j.p > t.t THEN 1 ELSE 0 END AS sub
           FROM pj$r j JOIN th$r t USING (cell)),
         mc$r AS MATERIALIZED (
           SELECT cell, sub,
             list(CAST(floor(CAST(sdim AS DOUBLE) / nvec) AS BIGINT)
               ORDER BY i) AS mcq
           FROM (SELECT cell, sub, t.i, sum(qv[t.i]) AS sdim,
                   count(*) AS nvec
                 FROM a0_$r, generate_series(1, 64) AS t(i)
                 GROUP BY 1, 2, 3)
           GROUP BY 1, 2),
         a1_$r AS (
           SELECT a.vec_id,
             a.cell || '/' || CAST(a.sub AS VARCHAR) AS cell,
             CAST(list_sum(list_transform(list_zip(a.qv, c.mcq),
               z -> (z[1] - z[2]) * (z[1] - z[2]))) AS BIGINT) AS dist
           FROM a0_$r a JOIN mc$r c USING (cell, sub)),
         st${r + 1} AS MATERIALIZED (
           SELECT vec_id, cell, dist FROM st$r
           WHERE cell NOT IN (SELECT cell FROM hot$r)
           UNION ALL SELECT vec_id, cell, dist FROM a1_$r)"""
    }
    sb.result()
  }

  private def q181OracleSql: String = {
    val R = SemDedupMaxRounds
    s"""WITH ${lloydCtes(LloydMaxIters, LloydMinImprove)},
         ${lloydStarCtes(LloydMaxIters)},
         ${cappedCtes(SemDedupCap, R)},
         vv AS MATERIALIZED (
           SELECT s.vec_id, s.cell, s.dist, q.qv,
             CAST(list_sum(list_transform(q.qv, x -> x * x))
               AS BIGINT) AS n2
           FROM st$R s JOIN q USING (vec_id)),
         cp0 AS (
           SELECT a.vec_id AS ia, b.vec_id AS ib, a.dist AS da,
             b.dist AS db,
             CAST(list_sum(list_transform(list_zip(a.qv, b.qv),
               z -> z[1] * z[2])) AS BIGINT) AS dot,
             a.n2 AS na, b.n2 AS nb
           FROM vv a JOIN vv b ON a.cell = b.cell AND a.vec_id < b.vec_id),
         cp AS MATERIALIZED (
           SELECT ia, ib,
             CASE WHEN da > db OR (da = db AND ia > ib)
                  THEN ia ELSE ib END AS drop_id
           FROM cp0 WHERE dot > 0 AND dot * dot * 25 >= na * nb * 4),
         cperdoc AS (
           SELECT vec_id, CAST(count(*) AS BIGINT) AS n_dup_pairs
           FROM (SELECT ia AS vec_id FROM cp
                 UNION ALL SELECT ib FROM cp)
           GROUP BY 1),
         cdropped AS (SELECT DISTINCT drop_id AS vec_id FROM cp)
         SELECT vv.cell, d.vec_id, g.rep_id, g.n_copies,
           coalesce(cperdoc.n_dup_pairs, 0) AS n_sem_pairs,
           CAST(CASE WHEN d.vec_id <> g.rep_id THEN 1
                     WHEN cdropped.vec_id IS NOT NULL THEN 1
                     ELSE 0 END AS BIGINT) AS is_dropped
         FROM q d JOIN grp g USING (qv)
           JOIN vv ON vv.vec_id = g.rep_id
           LEFT JOIN cperdoc ON cperdoc.vec_id = g.rep_id
           LEFT JOIN cdropped ON cdropped.vec_id = g.rep_id
         ORDER BY cell, d.vec_id"""
  }

  private def q174OracleSql: String =
    s"""WITH ${lloydCtes(LloydMaxIters, LloydMinImprove)},
         ${lloydStarCtes(LloydMaxIters)},
         ad AS MATERIALIZED (
           SELECT a.vec_id, a.cid,
             CAST(list_sum(list_transform(list_zip(v.qv, c.cq),
               z -> (z[1] - z[2]) * (z[1] - z[2]))) AS BIGINT) AS dist
           FROM astar a JOIN q v USING (vec_id) JOIN cstar c USING (cid)),
         mx AS (SELECT max(vec_id) AS mx FROM q),
         sl AS (
           SELECT vec_id, cid, dist,
             least(9, vec_id * 10 // (mx + 1)) AS slice
           FROM ad CROSS JOIN mx),
         sc AS (SELECT slice, cid, CAST(count(*) AS BIGINT) AS n_sc
                FROM sl GROUP BY 1, 2),
         cc AS (SELECT cid, CAST(count(*) AS BIGINT) AS n_c
                FROM sl GROUP BY 1),
         stot AS (SELECT slice, CAST(count(*) AS BIGINT) AS n_s,
                    CAST(sum(dist) AS BIGINT) AS dsum
                  FROM sl GROUP BY 1),
         nall AS (SELECT CAST(count(*) AS BIGINT) AS n_all FROM sl),
         frame AS (
           SELECT st.slice, st.n_s, cc.cid, cc.n_c,
             coalesce(sc.n_sc, 0) AS n_sc
           FROM stot st CROSS JOIN cc
             LEFT JOIN sc ON sc.slice = st.slice AND sc.cid = cc.cid),
         tvd AS (
           SELECT slice,
             CAST(sum(abs(n_sc * n_all - n_c * n_s)) AS BIGINT) AS num,
             any_value(n_s) AS n_s2, any_value(n_all) AS n_all2
           FROM frame CROSS JOIN nall GROUP BY 1)
         SELECT CAST(st.slice AS BIGINT) AS slice, st.n_s AS n_vecs,
           500 * t.num // (t.n_s2 * t.n_all2) AS tvd_permille,
           st.dsum // st.n_s AS mean_dist
         FROM stot st JOIN tvd t USING (slice) ORDER BY slice"""

  /** The binary-tier oracle, parameterized: `livePred(alias)` filters
    * the CORPUS side (stage-1 scan and exact ground truth) to the
    * store's live contents; `phased` replays the result under both a
    * pre- and post-compaction phase id (identical rows by construction
    * — compaction transparency proved through the hash gate).
    */
  /** Shared head of the binary-tier oracles: quantization, packed
    * codes, the query sample, the Hamming ranking over the (possibly
    * live-filtered) corpus, and the exact live ground truth.
    */
  private def binaryAnnHeadCtes(livePred: String => String): String =
      s"""m AS (
           SELECT vec_id, list_transform(embedding,
             x -> CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT))
             AS qv
           FROM embeddings),
         c AS (
           SELECT vec_id, qv,
             CAST(list_sum(list_transform(generate_series(0, 31),
               i -> CASE WHEN qv[i + 1] > 0
                 THEN (CAST(1 AS BIGINT) << i)
                 ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS w0,
             CAST(list_sum(list_transform(generate_series(0, 31),
               i -> CASE WHEN qv[i + 33] > 0
                 THEN (CAST(1 AS BIGINT) << i)
                 ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS w1
           FROM m),
         qs AS (SELECT vec_id AS query_id, qv, w0, w1
                FROM c WHERE vec_id % 100 = 0),
         h AS (
           SELECT q.query_id, c.vec_id AS neighbor,
             CAST(bit_count(xor(c.w0, q.w0))
                + bit_count(xor(c.w1, q.w1)) AS BIGINT) AS ham
           FROM c, qs q
           WHERE c.vec_id <> q.query_id AND ${livePred("c")}),
         sl AS (
           SELECT query_id, neighbor, ham,
             row_number() OVER (PARTITION BY query_id
               ORDER BY ham, neighbor) AS srank
           FROM h),
         exd AS (
           SELECT mq.vec_id AS query_id, mc.vec_id AS neighbor,
             CAST(list_sum(list_transform(list_zip(mc.qv, mq.qv),
               x -> (x[1] - x[2]) * (x[1] - x[2]))) AS BIGINT) AS dist
           FROM m mc, m mq
           WHERE mq.vec_id % 100 = 0 AND mc.vec_id <> mq.vec_id
             AND ${livePred("mc")}),
         ex AS (
           SELECT query_id, neighbor FROM (
             SELECT query_id, neighbor,
               row_number() OVER (PARTITION BY query_id
                 ORDER BY dist, neighbor) AS r
             FROM exd) WHERE r <= 5)"""

  /** Single-width (20) replay — the q202 lifecycle gate's shape. */
  private def binaryAnnOracleSql(livePred: String => String,
      phased: Boolean): String =
      s"""WITH ${binaryAnnHeadCtes(livePred)},
         s20 AS (SELECT * FROM sl WHERE srank <= 20),
         rf AS (
           SELECT s.query_id, s.neighbor,
             CAST(list_sum(list_transform(list_zip(mc.qv, mq.qv),
               x -> (x[1] - x[2]) * (x[1] - x[2]))) AS BIGINT) AS dist
           FROM s20 s
           JOIN m mc ON mc.vec_id = s.neighbor
           JOIN m mq ON mq.vec_id = s.query_id),
         rr AS (
           SELECT query_id, neighbor,
             row_number() OVER (PARTITION BY query_id
               ORDER BY dist, neighbor) AS rrank
           FROM rf),
         nh AS (
           SELECT s.query_id, count(*) AS n_ham
           FROM s20 s JOIN ex e
             ON e.query_id = s.query_id AND e.neighbor = s.neighbor
           WHERE s.srank <= 5 GROUP BY 1),
         nr AS (
           SELECT r.query_id, count(*) AS n_refined
           FROM rr r JOIN ex e
             ON e.query_id = r.query_id AND e.neighbor = r.neighbor
           WHERE r.rrank <= 5 GROUP BY 1),
         per AS (
           SELECT q.query_id, CAST(5 AS BIGINT) AS k,
             CAST(coalesce(nh.n_ham, 0) AS BIGINT) AS n_ham,
             CAST(coalesce(nr.n_refined, 0) AS BIGINT) AS n_refined
           FROM qs q
           LEFT JOIN nh ON nh.query_id = q.query_id
           LEFT JOIN nr ON nr.query_id = q.query_id),
         al AS (
           SELECT CAST(-1 AS BIGINT) AS query_id,
             CAST(sum(k) AS BIGINT) AS k,
             CAST(sum(n_ham) AS BIGINT) AS n_ham,
             CAST(sum(n_refined) AS BIGINT) AS n_refined
           FROM per)
         SELECT ${if (phased) "ph.phase, " else ""}query_id, k,
           n_ham, n_refined,
           CAST(n_ham * 1000 // k AS BIGINT) AS recall_ham_permille,
           CAST(n_refined * 1000 // k AS BIGINT) AS recall_ref_permille
         FROM (SELECT * FROM per UNION ALL SELECT * FROM al)
         ${if (phased)
        "CROSS JOIN (SELECT CAST(0 AS BIGINT) AS phase UNION ALL SELECT CAST(1 AS BIGINT)) ph"
      else ""}
         ORDER BY ${if (phased) "ph.phase, " else ""}query_id"""

  /** Widened replay — the q191/q195 operating-point table: one
    * 100-deep Hamming shortlist, refined top-5 derived per width by
    * rank-filtering (the nesting argument in [[binaryWidthReport]]).
    */
  private def binaryAnnWidthOracleSql: String =
      s"""WITH ${binaryAnnHeadCtes(_ => "TRUE")},
         s100 AS (SELECT * FROM sl WHERE srank <= 100),
         widths AS (SELECT CAST(20 AS BIGINT) AS width
                    UNION ALL SELECT CAST(64 AS BIGINT)
                    UNION ALL SELECT CAST(100 AS BIGINT)),
         rf AS MATERIALIZED (
           SELECT s.query_id, s.neighbor, s.srank,
             CAST(list_sum(list_transform(list_zip(mc.qv, mq.qv),
               x -> (x[1] - x[2]) * (x[1] - x[2]))) AS BIGINT) AS dist
           FROM s100 s
           JOIN m mc ON mc.vec_id = s.neighbor
           JOIN m mq ON mq.vec_id = s.query_id),
         rr AS (
           SELECT w.width, r.query_id, r.neighbor,
             row_number() OVER (PARTITION BY w.width, r.query_id
               ORDER BY r.dist, r.neighbor) AS wrank
           FROM rf r CROSS JOIN widths w
           WHERE r.srank <= w.width),
         nh AS (
           SELECT s.query_id, CAST(count(*) AS BIGINT) AS n_ham
           FROM s100 s JOIN ex e
             ON e.query_id = s.query_id AND e.neighbor = s.neighbor
           WHERE s.srank <= 5 GROUP BY 1),
         nr AS (
           SELECT r.width, r.query_id,
             CAST(count(*) AS BIGINT) AS n_refined
           FROM rr r JOIN ex e
             ON e.query_id = r.query_id AND e.neighbor = r.neighbor
           WHERE r.wrank <= 5 GROUP BY 1, 2),
         per AS (
           SELECT w.width, q.query_id, CAST(5 AS BIGINT) AS k,
             CAST(coalesce(nh.n_ham, 0) AS BIGINT) AS n_ham,
             CAST(coalesce(nr.n_refined, 0) AS BIGINT) AS n_refined
           FROM qs q CROSS JOIN widths w
           LEFT JOIN nh ON nh.query_id = q.query_id
           LEFT JOIN nr ON nr.width = w.width
             AND nr.query_id = q.query_id),
         al AS (
           SELECT width, CAST(-1 AS BIGINT) AS query_id,
             CAST(sum(k) AS BIGINT) AS k,
             CAST(sum(n_ham) AS BIGINT) AS n_ham,
             CAST(sum(n_refined) AS BIGINT) AS n_refined
           FROM per GROUP BY 1)
         SELECT width, query_id, k, n_ham, n_refined,
           CAST(n_ham * 1000 // k AS BIGINT) AS recall_ham_permille,
           CAST(n_refined * 1000 // k AS BIGINT) AS recall_ref_permille
         FROM (SELECT * FROM per UNION ALL SELECT * FROM al)
         ORDER BY width, query_id"""

  private val BinaryAnnOracleSql: String = binaryAnnWidthOracleSql

  private def q202OracleSql: String =
    binaryAnnOracleSql(a => s"$a.vec_id % 7 <> 3", phased = true)

  /** q211 replay: the q202 lifecycle oracle with the label dimension —
    * the Hamming candidate join and the exact ground truth both filter
    * to SAME-LABEL live rows, per-query k is the ground-truth row
    * count, and the report duplicates across the compaction phase pair
    * (label survival through the fold rewrite is exactly what phase 1
    * re-proves).
    */
  private def q211OracleSql: String =
    s"""WITH m AS (
           SELECT vec_id, CAST(label AS BIGINT) AS label,
             list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT))
               AS qv
           FROM embeddings),
         c AS (
           SELECT vec_id, label, qv,
             CAST(list_sum(list_transform(generate_series(0, 31),
               i -> CASE WHEN qv[i + 1] > 0
                 THEN (CAST(1 AS BIGINT) << i)
                 ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS w0,
             CAST(list_sum(list_transform(generate_series(0, 31),
               i -> CASE WHEN qv[i + 33] > 0
                 THEN (CAST(1 AS BIGINT) << i)
                 ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS w1
           FROM m),
         qs AS (SELECT vec_id AS query_id, label, qv, w0, w1
                FROM c WHERE vec_id % 100 = 0),
         h AS (
           SELECT q.query_id, c.vec_id AS neighbor,
             CAST(bit_count(xor(c.w0, q.w0))
                + bit_count(xor(c.w1, q.w1)) AS BIGINT) AS ham
           FROM c JOIN qs q ON c.label = q.label
           WHERE c.vec_id <> q.query_id AND c.vec_id % 7 <> 3),
         sl AS (
           SELECT query_id, neighbor, ham,
             row_number() OVER (PARTITION BY query_id
               ORDER BY ham, neighbor) AS srank
           FROM h),
         s20 AS (SELECT * FROM sl WHERE srank <= 20),
         rf AS (
           SELECT s.query_id, s.neighbor, s.srank,
             CAST(list_sum(list_transform(list_zip(mc.qv, mq.qv),
               x -> (x[1] - x[2]) * (x[1] - x[2]))) AS BIGINT) AS dist
           FROM s20 s
           JOIN m mc ON mc.vec_id = s.neighbor
           JOIN m mq ON mq.vec_id = s.query_id),
         rr AS (
           SELECT query_id, neighbor,
             row_number() OVER (PARTITION BY query_id
               ORDER BY dist, neighbor) AS rrank
           FROM rf),
         exd AS (
           SELECT mq.vec_id AS query_id, mc.vec_id AS neighbor,
             CAST(list_sum(list_transform(list_zip(mc.qv, mq.qv),
               x -> (x[1] - x[2]) * (x[1] - x[2]))) AS BIGINT) AS dist
           FROM m mc, m mq
           WHERE mq.vec_id % 100 = 0 AND mc.vec_id <> mq.vec_id
             AND mc.label = mq.label AND mc.vec_id % 7 <> 3),
         ex AS (
           SELECT query_id, neighbor FROM (
             SELECT query_id, neighbor,
               row_number() OVER (PARTITION BY query_id
                 ORDER BY dist, neighbor) AS r
             FROM exd) WHERE r <= 5),
         kq AS (SELECT query_id, CAST(count(*) AS BIGINT) AS k
                FROM ex GROUP BY 1),
         nh AS (
           SELECT s.query_id, CAST(count(*) AS BIGINT) AS n_ham
           FROM s20 s JOIN ex e
             ON e.query_id = s.query_id AND e.neighbor = s.neighbor
           WHERE s.srank <= 5 GROUP BY 1),
         nr AS (
           SELECT r.query_id, CAST(count(*) AS BIGINT) AS n_refined
           FROM rr r JOIN ex e
             ON e.query_id = r.query_id AND e.neighbor = r.neighbor
           WHERE r.rrank <= 5 GROUP BY 1),
         per AS (
           SELECT q.query_id, q.label,
             CAST(coalesce(kq.k, 0) AS BIGINT) AS k,
             CAST(coalesce(nh.n_ham, 0) AS BIGINT) AS n_ham,
             CAST(coalesce(nr.n_refined, 0) AS BIGINT) AS n_refined
           FROM qs q
           LEFT JOIN kq ON kq.query_id = q.query_id
           LEFT JOIN nh ON nh.query_id = q.query_id
           LEFT JOIN nr ON nr.query_id = q.query_id),
         al AS (
           SELECT CAST(-1 AS BIGINT) AS query_id,
             CAST(-1 AS BIGINT) AS label,
             CAST(sum(k) AS BIGINT) AS k,
             CAST(sum(n_ham) AS BIGINT) AS n_ham,
             CAST(sum(n_refined) AS BIGINT) AS n_refined
           FROM per)
         SELECT ph.phase, query_id, label, k, n_ham, n_refined,
           CAST(CASE WHEN k = 0 THEN 1000
             ELSE n_ham * 1000 // k END AS BIGINT)
             AS recall_ham_permille,
           CAST(CASE WHEN k = 0 THEN 1000
             ELSE n_refined * 1000 // k END AS BIGINT)
             AS recall_ref_permille
         FROM (SELECT * FROM per UNION ALL SELECT * FROM al)
         CROSS JOIN (SELECT CAST(0 AS BIGINT) AS phase
                     UNION ALL SELECT CAST(1 AS BIGINT)) ph
         ORDER BY ph.phase, query_id"""

  /** q207/q208 replay: the unrolled Lloyd loop over `srcWhere`'s
    * training subset (converged centroids cstar), the LIVE corpus
    * assigned against cstar (one rule covers build rows and ingested
    * generations — a_r assigns against c_r, so astar ≡ argmin vs
    * cstar), sign-bit packing, query routing with probe rank,
    * per-(query, probed-cell) top-100 Hamming shortlist, then every
    * (nprobe, width) operating point derived by rank filters —
    * structurally the engine's own derivation, so equality is
    * step-for-step. `phased` duplicates the report across the q202
    * phase pair (compaction transparency from ONE computation).
    */
  private def ivfBinaryOracleSql(srcWhere: String, livePred: String,
      phased: Boolean): String =
    s"""WITH ${lloydCtes(LloydMaxIters, LloydMinImprove, srcWhere)},
         ${lloydStarCtes(LloydMaxIters)},
         liv AS MATERIALIZED (
           SELECT vec_id, qv FROM allq WHERE $livePred),
         asg AS MATERIALIZED (
           SELECT vec_id, cid FROM (
             SELECT l.vec_id, c.cid,
               row_number() OVER (PARTITION BY l.vec_id ORDER BY
                 CAST(list_sum(list_transform(list_zip(l.qv, c.cq),
                   z -> (z[1] - z[2]) * (z[1] - z[2]))) AS BIGINT),
                 c.cid) AS rn
             FROM liv l, cstar c) WHERE rn = 1),
         cod AS MATERIALIZED (
           SELECT vec_id,
             CAST(list_sum(list_transform(generate_series(0, 31),
               i -> CASE WHEN qv[i + 1] > 0
                 THEN (CAST(1 AS BIGINT) << i)
                 ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS w0,
             CAST(list_sum(list_transform(generate_series(0, 31),
               i -> CASE WHEN qv[i + 33] > 0
                 THEN (CAST(1 AS BIGINT) << i)
                 ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS w1
           FROM allq),
         qs AS (SELECT vec_id AS query_id, qv FROM allq
                WHERE vec_id % 100 = 0),
         qc AS (SELECT vec_id AS query_id, w0 AS qw0, w1 AS qw1
                FROM cod WHERE vec_id % 100 = 0),
         qrt AS (
           SELECT query_id, cid, prank FROM (
             SELECT qs.query_id, c.cid,
               row_number() OVER (PARTITION BY qs.query_id ORDER BY
                 CAST(list_sum(list_transform(list_zip(qs.qv, c.cq),
                   z -> (z[1] - z[2]) * (z[1] - z[2]))) AS BIGINT),
                 c.cid) AS prank
             FROM qs, cstar c) WHERE prank <= $IvfBinMaxProbe),
         h AS (
           SELECT r.query_id, r.prank, a.vec_id AS neighbor,
             CAST(bit_count(xor(cd.w0, qc.qw0))
                + bit_count(xor(cd.w1, qc.qw1)) AS BIGINT) AS ham
           FROM qrt r
           JOIN asg a ON a.cid = r.cid
           JOIN cod cd ON cd.vec_id = a.vec_id
           JOIN qc ON qc.query_id = r.query_id
           WHERE a.vec_id <> r.query_id),
         cell100 AS MATERIALIZED (
           SELECT query_id, prank, neighbor, ham FROM (
             SELECT *, row_number() OVER (PARTITION BY query_id, prank
               ORDER BY ham, neighbor) AS cr FROM h) WHERE cr <= 100),
         probes AS (SELECT CAST(1 AS BIGINT) AS nprobe
                    UNION ALL SELECT CAST(2 AS BIGINT)
                    UNION ALL SELECT CAST(4 AS BIGINT)),
         widths AS (SELECT CAST(20 AS BIGINT) AS width
                    UNION ALL SELECT CAST(100 AS BIGINT)),
         sl AS MATERIALIZED (
           SELECT nprobe, query_id, neighbor, ham, srank FROM (
             SELECT p.nprobe, c.query_id, c.neighbor, c.ham,
               row_number() OVER (PARTITION BY p.nprobe, c.query_id
                 ORDER BY c.ham, c.neighbor) AS srank
             FROM cell100 c JOIN probes p ON c.prank <= p.nprobe)
           WHERE srank <= 100),
         rf AS MATERIALIZED (
           SELECT d.query_id, d.neighbor,
             CAST(list_sum(list_transform(list_zip(mc.qv, mq.qv),
               x -> (x[1] - x[2]) * (x[1] - x[2]))) AS BIGINT) AS dist
           FROM (SELECT DISTINCT query_id, neighbor FROM cell100) d
           JOIN allq mc ON mc.vec_id = d.neighbor
           JOIN allq mq ON mq.vec_id = d.query_id),
         exd AS (
           SELECT mq.vec_id AS query_id, mc.vec_id AS neighbor,
             CAST(list_sum(list_transform(list_zip(mc.qv, mq.qv),
               x -> (x[1] - x[2]) * (x[1] - x[2]))) AS BIGINT) AS dist
           FROM liv mc, allq mq
           WHERE mq.vec_id % 100 = 0 AND mc.vec_id <> mq.vec_id),
         ex AS (
           SELECT query_id, neighbor FROM (
             SELECT query_id, neighbor,
               row_number() OVER (PARTITION BY query_id
                 ORDER BY dist, neighbor) AS r
             FROM exd) WHERE r <= 5),
         nh AS (
           SELECT s.nprobe, s.query_id, CAST(count(*) AS BIGINT) AS n_ham
           FROM sl s JOIN ex e
             ON e.query_id = s.query_id AND e.neighbor = s.neighbor
           WHERE s.srank <= 5 GROUP BY 1, 2),
         rr AS (
           SELECT s.nprobe, w.width, s.query_id, s.neighbor,
             row_number() OVER (PARTITION BY s.nprobe, w.width,
               s.query_id ORDER BY f.dist, s.neighbor) AS wrank
           FROM sl s
           JOIN rf f ON f.query_id = s.query_id
             AND f.neighbor = s.neighbor
           CROSS JOIN widths w
           WHERE s.srank <= w.width),
         nr AS (
           SELECT r.nprobe, r.width, r.query_id,
             CAST(count(*) AS BIGINT) AS n_refined
           FROM rr r JOIN ex e
             ON e.query_id = r.query_id AND e.neighbor = r.neighbor
           WHERE r.wrank <= 5 GROUP BY 1, 2, 3),
         per AS (
           SELECT p.nprobe, w.width, qq.query_id, CAST(5 AS BIGINT) AS k,
             CAST(coalesce(nh.n_ham, 0) AS BIGINT) AS n_ham,
             CAST(coalesce(nr.n_refined, 0) AS BIGINT) AS n_refined
           FROM (SELECT query_id FROM qs) qq
           CROSS JOIN probes p CROSS JOIN widths w
           LEFT JOIN nh ON nh.nprobe = p.nprobe
             AND nh.query_id = qq.query_id
           LEFT JOIN nr ON nr.nprobe = p.nprobe AND nr.width = w.width
             AND nr.query_id = qq.query_id),
         al AS (
           SELECT nprobe, width, CAST(-1 AS BIGINT) AS query_id,
             CAST(sum(k) AS BIGINT) AS k,
             CAST(sum(n_ham) AS BIGINT) AS n_ham,
             CAST(sum(n_refined) AS BIGINT) AS n_refined
           FROM per GROUP BY 1, 2)
         SELECT ${if (phased) "ph.phase, " else ""}nprobe, width,
           query_id, k, n_ham, n_refined,
           CAST(n_ham * 1000 // k AS BIGINT) AS recall_ham_permille,
           CAST(n_refined * 1000 // k AS BIGINT) AS recall_ref_permille
         FROM (SELECT * FROM per UNION ALL SELECT * FROM al)
         ${if (phased)
        "CROSS JOIN (SELECT CAST(0 AS BIGINT) AS phase UNION ALL SELECT CAST(1 AS BIGINT)) ph"
      else ""}
         ORDER BY ${if (phased) "ph.phase, " else ""}nprobe, width,
           query_id"""

  private def q207OracleSql: String =
    ivfBinaryOracleSql("", "TRUE", phased = false)

  private def q208OracleSql: String =
    ivfBinaryOracleSql("WHERE vec_id % 3 <> 2", "vec_id % 7 <> 3",
      phased = true)

  def oracles: Map[String, String] = Map(
    "q191_binary_sign_ann" -> BinaryAnnOracleSql,
    // the store entry IS q191's computation served from disk — same
    // report, same oracle (the q182/q178 transparent-store discipline)
    "q195_binary_store" -> BinaryAnnOracleSql,
    "q202_binary_store_mutated" -> q202OracleSql,
    "q207_ivf_binary" -> q207OracleSql,
    "q208_ivf_binary_store" -> q208OracleSql,
    "q211_binary_store_labeled" -> q211OracleSql,
    "q149_kmeans_convergence" -> q149OracleSql,
    "q147_ivf_learned" -> q147OracleSql,
    "q171_semdedup_lloyd" -> q171OracleSql,
    "q174_embedding_drift" -> q174OracleSql,
    "q181_semdedup_capped" -> q181OracleSql,
    "q105_ivfpq_ann" ->
      """WITH q AS (
           SELECT vec_id, list_transform(embedding,
             x -> CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT)) AS qv
           FROM embeddings),
         cents AS (
           SELECT CAST(vec_id AS INTEGER) AS cid, qv AS cq
           FROM q WHERE vec_id < 16),
         lists AS (
           SELECT vec_id, cid FROM (
             SELECT q.vec_id, c.cid,
               row_number() OVER (PARTITION BY q.vec_id ORDER BY
                 list_sum(list_transform(list_zip(q.qv, c.cq),
                   z -> (z[1] - z[2]) * (z[1] - z[2]))), c.cid) AS rn
             FROM q, cents c) WHERE rn = 1),
         sub AS (
           SELECT vec_id, m, qv[(m*8+1):(m*8+8)] AS sv
           FROM q, generate_series(0, 7) AS t(m)),
         cb AS (SELECT m, CAST(vec_id AS INTEGER) AS c, sv AS cvec
           FROM sub WHERE vec_id < 16),
         dist AS (
           SELECT s.vec_id, s.m, cb.c,
             list_sum(list_transform(list_zip(s.sv, cb.cvec),
               z -> (z[1] - z[2]) * (z[1] - z[2]))) AS dd
           FROM sub s JOIN cb ON s.m = cb.m),
         code AS (
           SELECT vec_id, m, c FROM (
             SELECT vec_id, m, c,
               row_number() OVER (PARTITION BY vec_id, m ORDER BY dd, c) AS rn
             FROM dist) WHERE rn = 1),
         recon AS (
           SELECT code.vec_id, flatten(list(cb.cvec ORDER BY code.m)) AS rv
           FROM code JOIN cb ON code.m = cb.m AND code.c = cb.c
           GROUP BY 1),
         qs AS (SELECT vec_id AS query_id, qv AS qqv
           FROM q WHERE vec_id % 100 = 0),
         probes AS (
           SELECT query_id, qqv, cid FROM (
             SELECT qs.query_id, qs.qqv, c.cid,
               row_number() OVER (PARTITION BY qs.query_id ORDER BY
                 list_sum(list_transform(list_zip(qs.qqv, c.cq),
                   z -> (z[1] - z[2]) * (z[1] - z[2]))), c.cid) AS rn
             FROM qs, cents c) WHERE rn <= 2),
         adc AS (
           SELECT p.query_id, r.vec_id AS neighbor, l.cid,
             CAST(list_sum(list_transform(list_zip(r.rv, p.qqv),
               z -> (z[1] - z[2]) * (z[1] - z[2]))) AS BIGINT) AS adc
           FROM recon r JOIN lists l ON r.vec_id = l.vec_id
           JOIN probes p ON p.cid = l.cid
           WHERE r.vec_id <> p.query_id),
         rk AS (
           SELECT query_id, neighbor, cid, adc,
             CAST(row_number() OVER (PARTITION BY query_id
               ORDER BY adc, neighbor) AS BIGINT) AS rank
           FROM adc)
         SELECT query_id, neighbor, cid, adc, rank FROM rk
         WHERE rank <= 5 ORDER BY query_id, rank""",
    "q90_pq_ann" ->
      """WITH q AS (
           SELECT vec_id, list_transform(embedding,
             x -> CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT)) AS qv
           FROM embeddings),
         sub AS (
           SELECT vec_id, m, qv[(m*8+1):(m*8+8)] AS sv
           FROM q, generate_series(0, 7) AS t(m)),
         cb AS (SELECT m, vec_id AS c, sv AS cvec FROM sub WHERE vec_id < 16),
         dist AS (
           SELECT s.vec_id, s.m, cb.c,
             list_sum(list_transform(list_zip(s.sv, cb.cvec),
               p -> (p[1] - p[2]) * (p[1] - p[2]))) AS dd
           FROM sub s JOIN cb ON s.m = cb.m),
         code AS (
           SELECT vec_id, m, c FROM (
             SELECT vec_id, m, c,
               row_number() OVER (PARTITION BY vec_id, m ORDER BY dd, c) AS rn
             FROM dist) WHERE rn = 1),
         recon AS (
           SELECT code.vec_id, flatten(list(cb.cvec ORDER BY code.m)) AS rv
           FROM code JOIN cb ON code.m = cb.m AND code.c = cb.c
           GROUP BY 1),
         qs AS (SELECT vec_id AS query_id, qv AS qqv FROM q WHERE vec_id % 100 = 0),
         adc AS (
           SELECT query_id, r.vec_id AS neighbor,
             CAST(list_sum(list_transform(list_zip(rv, qqv),
               p -> (p[1] - p[2]) * (p[1] - p[2]))) AS BIGINT) AS adc
           FROM recon r, qs WHERE r.vec_id <> query_id),
         rk AS (
           SELECT query_id, neighbor, adc,
             CAST(row_number() OVER (PARTITION BY query_id
               ORDER BY adc, neighbor) AS BIGINT) AS rank
           FROM adc)
         SELECT query_id, neighbor, adc, rank FROM rk
         WHERE rank <= 5 ORDER BY query_id, rank""",
    "q72_kmeans_assign" ->
      """WITH q AS (
           SELECT vec_id, list_transform(embedding,
             x -> CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT)) AS qv
           FROM embeddings),
         c AS (SELECT vec_id AS cid, qv AS cq FROM q WHERE vec_id < 10),
         d AS (
           SELECT q.vec_id, c.cid,
             CAST(list_sum(list_transform(list_zip(q.qv, c.cq),
               p -> (p[1] - p[2]) * (p[1] - p[2]))) AS BIGINT) AS dist
           FROM q, c),
         a AS (SELECT vec_id, cid, dist,
                 row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
               FROM d)
         SELECT cid, CAST(count(*) AS BIGINT) AS n_vecs,
           CAST(sum(dist) AS BIGINT) AS sum_dist
         FROM a WHERE rn = 1 GROUP BY 1 ORDER BY 1""",
    "q93_semdedup" ->
      """WITH q AS (
           SELECT vec_id, list_transform(embedding,
             x -> CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT)) AS qv
           FROM embeddings),
         c AS (SELECT vec_id AS cid, qv AS cq FROM q WHERE vec_id < 10),
         dd AS (
           SELECT q.vec_id, c.cid,
             CAST(list_sum(list_transform(list_zip(q.qv, c.cq),
               p -> (p[1] - p[2]) * (p[1] - p[2]))) AS BIGINT) AS dist
           FROM q, c),
         a AS (SELECT vec_id, cid FROM (
             SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
             FROM dd) WHERE rn = 1),
         v AS (
           SELECT q.vec_id, a.cid, q.qv,
             CAST(list_sum(list_transform(q.qv, x -> x*x)) AS BIGINT) AS n2
           FROM q JOIN a USING (vec_id)),
         pr AS (
           SELECT b.vec_id AS id2,
             CAST(list_sum(list_transform(list_zip(a.qv, b.qv),
               x -> x[1] * x[2])) AS BIGINT) AS dot,
             a.n2 AS na2, b.n2 AS nb2
           FROM v a JOIN v b ON a.cid = b.cid AND a.vec_id < b.vec_id),
         drp AS (SELECT DISTINCT id2 FROM pr
           WHERE dot > 0 AND 400*dot*dot >= 49*na2*nb2)
         SELECT cid, CAST(count(*) AS BIGINT) AS n_vecs,
           CAST(sum(CASE WHEN drp.id2 IS NOT NULL THEN 1 ELSE 0 END)
             AS BIGINT) AS n_dropped,
           CAST(count(*) - sum(CASE WHEN drp.id2 IS NOT NULL THEN 1 ELSE 0 END)
             AS BIGINT) AS n_kept
         FROM v LEFT JOIN drp ON v.vec_id = drp.id2
         GROUP BY 1 ORDER BY 1""",
    "q38_ann_lsh" ->
      (graft.operators.DuckMacros.Sm64 +
      s"""WITH m AS (
           SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
         n AS (SELECT vec_id, v,
                 sqrt(list_sum(list_transform(v, x -> x*x))) AS nrm FROM m),
         bkt AS (SELECT vec_id, v, nrm, ${bucketSql("v")} AS bucket FROM n),
         q AS (
           SELECT vec_id AS query_id, v AS qv, nrm AS qn,
             unnest([bucket, xor(bucket, 1), xor(bucket, 2),
                     xor(bucket, 4), xor(bucket, 8)]) AS probe
           FROM bkt WHERE vec_id % 100 = 0),
         pairs AS (
           SELECT DISTINCT query_id, e.vec_id AS neighbor,
             round(list_sum(list_transform(list_zip(e.v, qv), x -> x[1]*x[2]))
               / (e.nrm * qn), 6) AS cosine
           FROM bkt e JOIN q ON e.bucket = probe AND e.vec_id <> query_id),
         ranked AS (
           SELECT query_id, neighbor, cosine,
             CAST(row_number() OVER (PARTITION BY query_id
               ORDER BY cosine DESC, neighbor) AS BIGINT) AS rank
           FROM pairs)
         SELECT query_id, neighbor, cosine, rank FROM ranked
         WHERE rank <= 5 ORDER BY query_id, rank"""),
    "q187_semantic_decontam" ->
      """WITH q AS (
           SELECT vec_id, list_transform(embedding,
             x -> CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT))
             AS qv
           FROM embeddings),
         n AS (
           SELECT vec_id, qv,
             CAST(list_sum(list_transform(qv, x -> x * x)) AS BIGINT) AS n2
           FROM q),
         ev AS (SELECT vec_id AS eval_id, qv AS eqv, n2 AS en2
                FROM n WHERE vec_id % 97 = 0 AND n2 > 0),
         tr AS (SELECT vec_id AS train_id, qv, n2
                FROM n WHERE vec_id % 97 <> 0 AND n2 > 0),
         pr AS (
           SELECT eval_id, train_id, n2, en2,
             CAST(list_sum(list_transform(list_zip(qv, eqv),
               z -> z[1] * z[2])) AS BIGINT) AS dot
           FROM tr CROSS JOIN ev),
         sc AS (
           SELECT eval_id, train_id,
             CASE WHEN dot >= 0 THEN (dot * dot * 1000) // (n2 * en2)
                  ELSE -((dot * dot * 1000) // (n2 * en2)) END AS c2p
           FROM pr),
         ag AS (
           SELECT eval_id,
             max((c2p + 1000) * 2199023255552 + (2199023255551 - train_id))
               AS p,
             CAST(sum(CASE WHEN c2p >= 40 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_above
           FROM sc GROUP BY 1)
         SELECT eval_id,
           CAST(p // 2199023255552 - 1000 AS BIGINT) AS best_c2p,
           CAST(2199023255551 - (p % 2199023255552) AS BIGINT) AS best_train,
           n_above
         FROM ag ORDER BY eval_id""",
    "q60_cosine_dedup" ->
      (graft.operators.DuckMacros.Sm64 +
      s"""WITH m AS (
           SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
         n AS (SELECT vec_id, v,
                 sqrt(list_sum(list_transform(v, x -> x*x))) AS nrm FROM m),
         bkt AS (SELECT vec_id, v, nrm, ${bucketSql("v")} AS bucket FROM n),
         probed AS (
           SELECT vec_id,
             unnest([bucket, xor(bucket, 1), xor(bucket, 2),
                     xor(bucket, 4), xor(bucket, 8)]) AS probe
           FROM bkt),
         cand AS (
           SELECT DISTINCT a.vec_id AS id1, b.vec_id AS id2
           FROM bkt a JOIN probed b ON a.bucket = b.probe AND a.vec_id < b.vec_id),
         scored AS (
           SELECT id1, id2,
             list_sum(list_transform(list_zip(x.v, y.v), z -> z[1]*z[2]))
               / (x.nrm * y.nrm) AS cosine
           FROM cand JOIN n x ON id1 = x.vec_id JOIN n y ON id2 = y.vec_id)
         SELECT id1, id2, round(cosine, 6) AS cosine
         FROM scored WHERE cosine > 0.35 ORDER BY 1, 2"""),
    "q125_ann_recall" ->
      (s"""WITH ex AS ($Knn37Sql),
         iv AS ($Ivf40Sql),
         mm AS (
           SELECT ex.query_id, CAST(count(*) AS BIGINT) AS nm
           FROM ex JOIN iv ON ex.query_id = iv.query_id
             AND ex.neighbor = iv.neighbor
           GROUP BY 1),
         kk AS (SELECT query_id, CAST(count(*) AS BIGINT) AS k
                FROM ex GROUP BY 1),
         per AS (
           SELECT kk.query_id, kk.k, coalesce(mm.nm, 0) AS n_match
           FROM kk LEFT JOIN mm ON kk.query_id = mm.query_id),
         al AS (
           SELECT CAST(-1 AS BIGINT) AS query_id,
             CAST(sum(k) AS BIGINT) AS k,
             CAST(sum(n_match) AS BIGINT) AS n_match
           FROM per)
         SELECT query_id, k, CAST(n_match AS BIGINT) AS n_match,
           CAST(n_match * 1000 // k AS BIGINT) AS recall_permille
         FROM (SELECT * FROM per UNION ALL SELECT * FROM al)
         ORDER BY query_id"""),
    "q37_knn_bruteforce" -> Knn37Sql,
    "q40_ann_ivf" -> Ivf40Sql,
    "q142_hard_negatives" ->
      """WITH m AS (
           SELECT vec_id, label, list_transform(embedding,
             x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
         n AS (SELECT vec_id, label, v,
                 sqrt(list_sum(list_transform(v, x -> x*x))) AS nrm FROM m),
         c AS (SELECT vec_id AS cent_id, v AS cv, nrm AS cn
               FROM n WHERE vec_id < 16),
         scored AS (
           SELECT n.vec_id, n.label, n.v, n.nrm, c.cent_id,
             list_sum(list_transform(list_zip(n.v, c.cv), x -> x[1]*x[2]))
               / (n.nrm * c.cn) AS csim
           FROM n, c),
         assign AS (
           SELECT vec_id, label, v, nrm, cent_id,
             row_number() OVER (PARTITION BY vec_id
               ORDER BY csim DESC, cent_id) AS crank
           FROM scored),
         assigned AS (SELECT vec_id, label, v, nrm, cent_id
                      FROM assign WHERE crank = 1),
         q AS (SELECT vec_id AS query_id, label AS qlabel, v AS qv,
                 nrm AS qn, cent_id
               FROM assign WHERE crank <= 2 AND vec_id % 100 = 0),
         cand AS (
           SELECT q.query_id, q.qlabel, a.vec_id AS neighbor, a.label,
             round(list_sum(list_transform(list_zip(a.v, q.qv),
               x -> x[1]*x[2])) / (a.nrm * q.qn), 6) AS cosine
           FROM assigned a JOIN q ON a.cent_id = q.cent_id
           WHERE a.vec_id <> q.query_id),
         pos AS (SELECT query_id, max(cosine) AS pos_cosine
                 FROM cand WHERE label = qlabel AND NOT isnan(cosine)
                 GROUP BY 1),
         neg AS (
           SELECT query_id, neighbor, cosine,
             CAST(row_number() OVER (PARTITION BY query_id
               ORDER BY cosine DESC, neighbor) AS BIGINT) AS rank
           FROM cand WHERE label <> qlabel AND NOT isnan(cosine))
         SELECT g.query_id, g.rank, g.neighbor, g.cosine AS neg_cosine,
           p.pos_cosine
         FROM neg g JOIN pos p ON p.query_id = g.query_id
         WHERE g.rank <= 3 ORDER BY 1, 2""",
    "q39_norm_stats" ->
      """WITH m AS (
           SELECT label,
             sqrt(list_sum(list_transform(
               list_transform(embedding, x -> CAST(x AS DOUBLE)),
               x -> x*x))) AS nrm
           FROM embeddings)
         SELECT label, CAST(count(*) AS BIGINT) AS n_vecs,
           round(avg(nrm), 4) AS avg_norm,
           round(min(nrm), 4) AS min_norm,
           round(max(nrm), 4) AS max_norm
         FROM m GROUP BY 1 ORDER BY 1""",
    "q132_int8_quant" ->
      """WITH b AS (
           SELECT vec_id, i - 1 AS dim, CAST(embedding[i] AS DOUBLE) AS v
           FROM embeddings,
             LATERAL unnest(generate_series(1, len(embedding))) AS u(i)),
         c AS (
           SELECT dim, min(v) AS vmin, max(v) AS vmax
           FROM b WHERE vec_id % 10 = 0 GROUP BY 1),
         j AS (
           SELECT b.dim, v, vmin, vmax, vmax - vmin AS rng,
             floor((v - vmin) * 255.0 / (vmax - vmin)) AS craw
           FROM b JOIN c ON b.dim = c.dim),
         q AS (
           SELECT dim, v, vmin, vmax, rng, craw,
             greatest(0, least(255, CAST(craw AS BIGINT))) AS code
           FROM j),
         e AS (
           SELECT dim, vmin, vmax, craw,
             CAST(floor(abs(v - (vmin + (CAST(code AS DOUBLE) + 0.5)
               * rng / 255.0)) * 1000.0 / rng) AS BIGINT) AS errp
           FROM q)
         SELECT dim, CAST(count(*) AS BIGINT) AS n_vals,
           min(vmin) AS vmin, min(vmax) AS vmax,
           CAST(sum(CASE WHEN craw < 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_clamped_lo,
           CAST(sum(CASE WHEN craw > 255 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_clamped_hi,
           CAST(CAST(sum(errp) AS BIGINT) // count(*) AS BIGINT)
             AS avg_err_permille
         FROM e GROUP BY 1 ORDER BY 1"""
  )
}
