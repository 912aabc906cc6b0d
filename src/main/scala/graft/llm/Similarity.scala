package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.operators.TopKPerGroup

/** Similarity search over an embedding column (`array<float>`).
  *
  * Baseline: brute-force cosine top-k (small query set x all vectors —
  * the query side is broadcast, candidates never shuffle). Scale paths:
  *  - IVF-style: restrict the pair space to a coarse cell (here the
  *    `label` column plays the cluster-id role a KMeans assignment would)
  *  - sign-LSH: bucket vectors by the sign pattern of deterministic
  *    pseudo-hyperplane projections and search within buckets.
  *
  * Elements are cast to double before multiplying, so the per-element
  * products are exact in both engines; final scores are rounded to 4
  * decimals before any ordering or thresholding, which absorbs
  * sum-association differences (~1e-13) between engines/partitionings.
  */
object Similarity {

  /** Dot product of two float arrays, accumulated in double. Native
    * codegen expression — bit-identical to the zip_with/aggregate
    * composition but with no per-pair array allocation (see
    * [[org.apache.spark.sql.graft.VectorDot]]). */
  def dot(a: Column, b: Column): Column =
    org.apache.spark.sql.graft.VectorDot(a, b)

  def norm2(a: Column): Column = sqrt(dot(a, a))

  /** Cosine with a zero-norm guard: a zero vector is similar to nothing
    * (0.0), instead of an ANSI divide-by-zero / NaN. Nonzero cases keep
    * the exact dot/(na*nb) op tree. */
  def safeCosine(dotC: Column, na: Column, nb: Column): Column =
    when(na === 0 || nb === 0, lit(0.0)).otherwise(dotC / (na * nb))

  def cosine(a: Column, b: Column): Column =
    safeCosine(dot(a, b), norm2(a), norm2(b))

  /** Cosine rounded for engine-stable comparison/ranking. */
  def cosineR(a: Column, b: Column, scale: Int = 4): Column =
    round(cosine(a, b), scale)

  /** The `k` best `cand_id`s per `query_id` of `scored`, ranked `rk` by
    * rounded `cos_sim` desc, then `cand_id` asc (a total order). */
  private def byCosine(scored: DataFrame, k: Int): DataFrame =
    TopKPerGroup(scored, Seq(col("query_id")),
      Seq(col("cos_sim").desc, col("cand_id").asc), k)

  /** Brute-force cosine top-k: for each query vector, the k nearest other
    * vectors, ranked by rounded score desc then vec_id (deterministic).
    * `queryPred` selects the (small, broadcastable) query side.
    * Norms are computed once per vector (narrow pass), so each pair does
    * one array fold instead of three; dot/(qnorm*cnorm) keeps the exact
    * FP op tree of the inline form, so results are unchanged. */
  def bruteForceTopK(emb: DataFrame, queryPred: Column, k: Int): DataFrame = {
    val q = emb.where(queryPred)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        norm2(col("embedding")).as("qnorm"))
    val cand = emb.select(col("vec_id").as("cand_id"),
      col("embedding").as("cv"), norm2(col("embedding")).as("cnorm"))
    val scored = broadcast(q).crossJoin(cand)
      .where(col("query_id") =!= col("cand_id"))
      .select(col("query_id"), col("cand_id"),
        round(safeCosine(dot(col("qv"), col("cv")),
          col("qnorm"), col("cnorm")), 4).as("cos_sim"))
    byCosine(scored, k).orderBy("query_id", "rk")
  }

  /** Candidate→rerank funnel: the int8-quantized dot ([[quantizedTopK]])
    * nominates `candK` coarse candidates per query at 4x the memory
    * bandwidth of floats, then ONLY those pairs are re-scored with the
    * exact float cosine and re-ranked to `k`. The exact pass touches
    * candK rows per query instead of the corpus — at 100 TB the funnel
    * is what makes exact reranking affordable (the standard two-stage
    * retrieval shape). Both stages are deterministic (cand_id
    * tiebreaks), so the funnel output is engine-exact.
    *
    * The final ranking can differ from [[bruteForceTopK]] only when a
    * true top-k neighbor falls outside the quantized top-candK — the
    * recall/candK trade every production funnel tunes. */
  def funnelTopK(emb: DataFrame, queryPred: Column, candK: Int,
                 k: Int): DataFrame = {
    require(k <= candK, "rerank k must not exceed the candidate pool")
    val cands = quantizedTopK(emb, queryPred, candK)
      .select("query_id", "cand_id")
    val q = emb.where(queryPred)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        norm2(col("embedding")).as("qnorm"))
    val c = emb.select(col("vec_id").as("cand_id"),
      col("embedding").as("cv"), norm2(col("embedding")).as("cnorm"))
    // the pair list is queries x candK — broadcast the PAIR+QUERY frame
    // (still queries x candK rows) into the corpus-side join so the
    // corpus never shuffles; a hint on cands alone would be consumed by
    // the first join and leave the big join unhinted
    val exact = broadcast(broadcast(cands).join(q, "query_id"))
      .join(c, "cand_id")
      .select(col("query_id"), col("cand_id"),
        round(safeCosine(dot(col("qv"), col("cv")),
          col("qnorm"), col("cnorm")), 4).as("cos_sim"))
    byCosine(exact, k).orderBy("query_id", "rk")
  }

  /** IVF-style near-duplicate pairs: only pairs within the same coarse
    * cell (`label`) are scored; pairs at/above the rounded threshold
    * survive. Linear in (cell size)^2, never a full cross join. */
  def cellNearDup(emb: DataFrame, threshold: Double): DataFrame = {
    val withNorm = emb.withColumn("nrm", norm2(col("embedding")))
    val a = withNorm.select(col("label"), col("vec_id").as("vec_a"),
      col("embedding").as("ea"), col("nrm").as("na"))
    val b = withNorm.select(col("label").as("label_b"),
      col("vec_id").as("vec_b"), col("embedding").as("eb"),
      col("nrm").as("nb"))
    a.join(b, col("label") === col("label_b") &&
        col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b"),
        round(safeCosine(dot(col("ea"), col("eb")),
          col("na"), col("nb")), 4).as("cos_sim"))
      .where(col("cos_sim") >= threshold)
      .orderBy("vec_a", "vec_b")
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    * deduplication — cluster the embedding space coarsely, then drop,
    * within each cluster, every vector that has a semantically
    * near-identical neighbor with a smaller id (cos >= threshold; the
    * paper keeps one exemplar per duplicate group, we keep the
    * smallest-id one — deterministic and engine-portable). Returns one
    * row per cluster: total and surviving vector counts.
    *
    * Scale: clustering is [[ivfAssign]] (broadcast centroids, one
    * narrow pass, no shuffle); the pair scan shuffles once on the
    * cluster id and is (cell size)^2 WITHIN each cell only — with
    * k ~ sqrt(N) cells that is ~N total pair work, never a global cross
    * join, and a skewed cell can be capped exactly like the LSH buckets
    * (Dedup.lshPairs' maxBucket discipline). */
  def semDedup(emb: DataFrame, k: Int, threshold: Double,
               maxCell: Long = 100000L): DataFrame = {
    val cells = ivfAssign(emb, k)
    // skew guard, the lshCandidates maxBucket discipline: a degenerate
    // cell (mis-sized k, collapsed embedding space) would make the pair
    // scan quadratic in ITS size — cap it, keep its members (nothing is
    // deduped inside an over-cap cell), and surface the cap through
    // [[semDedupOversizedCells]] so capping is never silent
    val sized = cells.join(
      cells.groupBy("cell").agg(count(lit(1)).as("__csz")), "cell")
    val vecs = emb.select(col("vec_id"), col("embedding"),
        norm2(col("embedding")).as("nrm"))
      .join(sized.where(col("__csz") <= maxCell).drop("__csz"), "vec_id")
    val a = vecs.select(col("cell"), col("vec_id").as("vec_a"),
      col("embedding").as("ea"), col("nrm").as("na"))
    val b = vecs.select(col("cell").as("cell_b"),
      col("vec_id").as("vec_b"), col("embedding").as("eb"),
      col("nrm").as("nb"))
    val dropped = a.join(b, col("cell") === col("cell_b") &&
        col("vec_a") < col("vec_b"))
      .where(round(safeCosine(dot(col("ea"), col("eb")),
        col("na"), col("nb")), 4) >= threshold)
      .select(col("vec_b").as("vec_id")).distinct()
    val kept = cells.join(dropped, Seq("vec_id"), "left_anti")
    cells.groupBy("cell").agg(count(lit(1)).as("n_total"))
      .join(kept.groupBy("cell").agg(count(lit(1)).as("n_kept")),
        Seq("cell"), "left")
      .select(col("cell"), col("n_total"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"))
      .orderBy("cell")
  }

  /** The cells [[semDedup]] skipped under `maxCell`, with sizes — the
    * audit trail for capping (alert, re-cluster with a larger k, or
    * route members to exact dedup). Empty when nothing was capped. */
  def semDedupOversizedCells(emb: DataFrame, k: Int,
                             maxCell: Long = 100000L): DataFrame =
    ivfAssign(emb, k).groupBy("cell").agg(count(lit(1)).as("n_members"))
      .where(col("n_members") > maxCell)
      .orderBy("cell")

  /** IVF coarse quantizer: the first `k` vectors by vec_id are the
    * centroids (a fixed-seed coarse quantizer — FAISS-style IVF admits
    * any quantizer, and fixed seeds keep it deterministic and
    * engine-portable: no FP-accumulation-order hazards that Lloyd
    * iterations' running averages would introduce). Assignment = argmax
    * of rounded cosine, ties to the smallest centroid id.
    *
    * Scale: centroids are tiny and broadcast; assignment is one narrow
    * pass over the vectors (k dots each), so it scales linearly and
    * shuffles nothing. At 100 TB k grows to ~sqrt(N) and the
    * assignment pass is unchanged. */
  def ivfAssign(emb: DataFrame, k: Int): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val cents = emb.where(col("vec_id") < k)
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])].collect().sortBy(_._1).toSeq
    assignByCosineLiteral(emb, cents)
  }

  /** Zero-shuffle nearest-centroid assignment (cosine): the centroids
    * (metadata-scale — k x dim floats) ride as a LITERAL with
    * precomputed norms, and the argmax is a per-row `aggregate` fold
    * over them, so assignment is one narrow projection: no crossJoin
    * row amplification (k rows per vector) and no per-vector window
    * shuffle — at 100 TB the corpus stream never leaves its input
    * partitions. Tie rule: equal rounded score -> smallest centroid id
    * (`greatest` on struct(score, -id), lexicographic). The driver-side
    * norm accumulates in index order, bit-identical to [[norm2]]. */
  private[llm] def assignByCosineLiteral(
      emb: DataFrame, cents: Seq[(Long, Array[Float])]): DataFrame = {
    // no centroids -> no assignments (the lazy crossJoin form's
    // behavior), not an error: ivfTopK over an empty corpus stays empty
    if (cents.isEmpty)
      return emb.select(col("vec_id"), lit(0L).as("cell")).limit(0)
    def jnorm(v: Array[Float]): Double = {
      var s = 0.0; var i = 0
      while (i < v.length) { s += v(i).toDouble * v(i).toDouble; i += 1 }
      math.sqrt(s)
    }
    val lit3 = typedLit(cents.map { case (id, cv) => (id, cv, jnorm(cv)) })
    val vnorm = norm2(col("embedding"))
    val best = aggregate(lit3,
      struct(lit(-2.0).as("s"), lit(Long.MinValue).as("nid")),
      (acc, c) => greatest(acc, struct(
        round(safeCosine(dot(col("embedding"), c("_2")), vnorm,
          c("_3")), 4).as("s"),
        (-c("_1")).as("nid"))))
    emb.select(col("vec_id"), (-best("nid")).as("cell"))
  }

  /** IVF top-k search: probe the `nprobe` nearest cells per query, then
    * exact cosine top-k among the vectors assigned to those cells only —
    * the candidate set shrinks by ~nprobe/k versus brute force, the IVF
    * recall/cost dial. Queries and probe lists are broadcast; candidate
    * vectors never shuffle. */
  def ivfTopK(emb: DataFrame, queryPred: Column, k: Int, nprobe: Int,
              topk: Int): DataFrame = {
    val cents = emb.where(col("vec_id") < k)
      .select(col("vec_id").as("cent_id"), col("embedding").as("cv"),
        norm2(col("embedding")).as("cnorm"))
    val q = emb.where(queryPred)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        norm2(col("embedding")).as("qnorm"))
    val probes = TopKPerGroup(broadcast(q).crossJoin(broadcast(cents))
      .select(col("query_id"), col("cent_id"),
        round(safeCosine(dot(col("qv"), col("cv")),
          col("qnorm"), col("cnorm")), 4).as("pscore")),
      Seq(col("query_id")), Seq(col("pscore").desc, col("cent_id").asc),
      nprobe, "prk")
      .select(col("query_id"), col("cent_id").as("cell"))
    val cand = ivfAssign(emb, k)
      .join(emb.select(col("vec_id"), col("embedding").as("cand_v"),
        norm2(col("embedding")).as("cnorm2")), "vec_id")
    // a candidate can sit in several probed cells only if duplicated;
    // cells partition vectors, so (query_id, cand_id) is unique here
    val scored = broadcast(probes.join(q, "query_id")).join(cand, "cell")
      .where(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id").as("cand_id"), col("cell"),
        round(safeCosine(dot(col("qv"), col("cand_v")),
          col("qnorm"), col("cnorm2")), 4).as("cos_sim"))
    byCosine(scored, topk).orderBy("query_id", "rk")
  }

  /** Distributed Lloyd k-means over the embedding column — the trained
    * upgrade to [[ivfAssign]]'s fixed-seed quantizer (FAISS trains its
    * IVF coarse quantizer exactly this way). Deterministic init (first
    * `k` vectors by vec_id); each iteration broadcasts the k centroids,
    * assigns every vector in ONE narrow pass (argmin L2, ties to the
    * lowest centroid id), and recomputes means with a (cell, dim)
    * partial aggregate. Per-iteration driver traffic is k×dim doubles —
    * metadata-scale; the corpus never shuffles (the mean's combine is
    * map-side). Empty cells keep their previous centroid. Returns the
    * final (cent_id, centroid) pairs.
    *
    * Assignment means are FP-sum-order dependent at the ~1e-15 level
    * across partitionings (inherent to any distributed mean); k-means
    * consumers (cell blocking, IVF) are robust to that by construction.
    */
  def kmeansCentroids(emb: DataFrame, k: Int,
                      iters: Int,
                      roundDecimals: Int = -1): Seq[(Long, Array[Float])] = {
    val spark = emb.sparkSession
    import spark.implicits._
    var cents: Seq[(Long, Array[Float])] = emb.where(col("vec_id") < k)
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])].collect().sortBy(_._1).toSeq
    require(cents.nonEmpty, s"need at least one vector with vec_id < $k")
    for (_ <- 1 to iters) {
      val centsDF = cents.toDF("cent_id", "cv")
      val assigned = assignCells(emb, centsDF, roundDecimals)
      // roundDecimals >= 0 is the cross-engine-exact mode (the repo's
      // oracle rounding rule): the FP-sum-order-dependent mean is
      // rounded before it becomes the next iteration's centroid, so
      // distances and assignments are reproducible bit for bit on any
      // engine that applies the same rounding
      val mcol =
        if (roundDecimals >= 0) round(col("m"), roundDecimals)
        else col("m")
      val means = assigned
        .join(emb.select(col("vec_id"), col("embedding")), "vec_id")
        .select(col("cell"), posexplode(col("embedding")).as(Seq("dim", "x")))
        .groupBy("cell", "dim").agg(avg(col("x").cast("double")).as("m"))
        .groupBy("cell")
        .agg(transform(
          array_sort(collect_list(struct(col("dim"), mcol.as("m")))),
          s => s("m").cast("float")).as("cv"))
        .as[(Long, Array[Float])].collect().toMap
      cents = cents.map { case (id, old) => (id, means.getOrElse(id, old)) }
    }
    cents
  }

  /** Nearest-centroid assignment against an explicit (cent_id, cv)
    * centroid frame: argmin squared-L2 (ties to the lowest cent_id) —
    * [[ivfAssign]] generalized to trained centroids. The frame is
    * collected (k rows, metadata-scale) and folded per row like
    * [[assignByCosineLiteral]]: one narrow pass, zero shuffle.
    * |v-c|^2 = v.v - 2 v.c + c.c — three native dot folds, no per-pair
    * array materialization. */
  def assignCells(emb: DataFrame, centroids: DataFrame,
                  roundDecimals: Int = -1): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val cents = centroids.select(col("cent_id"), col("cv"))
      .as[(Long, Array[Float])].collect().sortBy(_._1).toSeq
    if (cents.isEmpty)
      return emb.select(col("vec_id"), lit(0L).as("cell")).limit(0)
    val lit2 = typedLit(cents)
    val vv = dot(col("embedding"), col("embedding"))
    // roundDecimals >= 0: compare ROUNDED distances (the oracle
    // rounding rule) so the argmin is engine-exact — FP sum-order noise
    // (~1e-12) cannot flip near-equidistant centroids, and rounded ties
    // break to the lowest cent_id identically everywhere
    def d2(c: Column): Column = {
      val raw = vv - lit(2.0) * dot(col("embedding"), c("_2")) +
        dot(c("_2"), c("_2"))
      if (roundDecimals >= 0) round(raw, roundDecimals) else raw
    }
    val best = aggregate(lit2,
      struct(lit(Double.MaxValue).as("d2"), lit(Long.MaxValue).as("id")),
      (acc, c) => least(acc, struct(d2(c).as("d2"), c("_1").as("id"))))
    emb.select(col("vec_id"), best("id").as("cell"))
  }

  /** int8 scalar quantization: per-vector symmetric scale to [-127, 127],
    * `q_i = floor(x_i * 127 / max|x| + 0.5)` (floor(+0.5) instead of
    * round() because the two engines' round() tie rules differ; floor is
    * bit-identical everywhere). Emitted as array<double> of exact
    * integers so the dot products stay engine-exact. */
  def quantize(v: Column): Column = {
    val m = greatest(array_max(transform(v, x => abs(x.cast("double")))),
      lit(1e-30))
    transform(v, x => floor(x.cast("double") * lit(127.0) / m + 0.5)
      .cast("double"))
  }

  /** Scalar-quantized brute-force top-k: rank candidates by the int8
    * dot product. The memory-compression variant of [[bruteForceTopK]]:
    * int8 vectors are 4x smaller than f32, so the candidate scan is 4x
    * less bandwidth and a 4x larger fraction of a 100 TB index fits in
    * executor cache / broadcast — the standard first funnel stage of a
    * production ANN (quantized scan -> exact re-rank of the survivors).
    * Integer dots (|sum| <= 64*127² ≈ 1.0M) are exact in double, so the
    * ranking is deterministic and engine-portable — no FP rounding step
    * needed at all. */
  def quantizedTopK(emb: DataFrame, queryPred: Column, k: Int): DataFrame = {
    val qemb = emb.select(col("vec_id"),
      quantize(col("embedding")).as("qv"))
    val q = qemb.where(queryPred)
      .select(col("vec_id").as("query_id"), col("qv").as("qq"))
    val cand = qemb.select(col("vec_id").as("cand_id"), col("qv").as("qc"))
    TopKPerGroup(broadcast(q).crossJoin(cand)
      .where(col("query_id") =!= col("cand_id"))
      .select(col("query_id"), col("cand_id"),
        dot(col("qq"), col("qc")).cast("long").as("qdot")),
      Seq(col("query_id")), Seq(col("qdot").desc, col("cand_id").asc), k)
      .orderBy("query_id", "rk")
  }

  /** Sign-LSH bucket id: sign bits of projections onto `planes`
    * deterministic pseudo-hyperplanes. Plane p's component i is
    * (((i*2654435761 + p*40503) mod 65536) - 32768) — a fixed integer
    * hash, identical everywhere, no RNG state needed. One native pass
    * ([[org.apache.spark.sql.graft.SignLshBucket]]); the fold-based
    * composition is kept as [[lshBucketComposed]] for parity tests. */
  def lshBucket(v: Column, dim: Int, planes: Int): Column =
    org.apache.spark.sql.graft.SignLshBucket(v, dim, planes)

  /** The aggregate/zip_with composition of [[lshBucket]]. */
  def lshBucketComposed(v: Column, dim: Int, planes: Int): Column = {
    val bits = (0 until planes).map { p =>
      val proj = aggregate(
        zip_with(v, sequence(lit(0), lit(dim - 1)),
          (x, i) => x.cast("double") *
            (pmod(i * 2654435761L + lit(p) * 40503L, lit(65536L)) - 32768L)
              .cast("double")),
        lit(0.0), (acc, x) => acc + x)
      when(proj > 0, lit(1L << p)).otherwise(lit(0L))
    }
    bits.reduce(_ + _)
  }

  /** LSH-bucketed near-dup scan: exact cosine only within buckets. */
  def lshNearDup(emb: DataFrame, dim: Int, planes: Int,
                 threshold: Double): DataFrame = {
    val withB = emb.withColumn("bucket",
      lshBucket(col("embedding"), dim, planes))
    val a = withB.select(col("bucket"), col("vec_id").as("vec_a"),
      col("embedding").as("ea"))
    val b = withB.select(col("bucket").as("bucket_b"),
      col("vec_id").as("vec_b"), col("embedding").as("eb"))
    a.join(b, col("bucket") === col("bucket_b") &&
        col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b"),
        cosineR(col("ea"), col("eb")).as("cos_sim"))
      .where(col("cos_sim") >= threshold)
      .orderBy("vec_a", "vec_b")
  }
}
