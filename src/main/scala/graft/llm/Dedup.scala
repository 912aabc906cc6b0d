package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for LLM training-data pipelines.
  *
  * Four families, each with a scale story:
  *  - exact: hash-groupBy on content digest (one shuffle on the digest;
  *    at 100 TB the md5 keys distribute uniformly, no skew)
  *  - MinHash + LSH: per-doc signatures (narrow), banding, and a
  *    band-bucket self-join — candidate pairs only, never the full
  *    cross join
  *  - SimHash: per-doc 32-bit signature via token-hash bit voting
  *  - n-gram Jaccard: exact verification on blocked candidate pairs
  *
  * Hashing uses md5 hex (same algorithm and casing in Spark and DuckDB),
  * and minima over fixed-length hex strings == minima over the unsigned
  * hash values, which keeps every step engine-portable and exact.
  */
object Dedup {

  /** Exact dedup: group by content digest, keep the smallest doc_id. */
  def exact(docs: DataFrame): DataFrame =
    docs.groupBy(md5(col("text")).as("content_hash"))
      .agg(min(col("doc_id")).as("keeper_doc_id"),
        count(lit(1)).as("n_copies"))
      .orderBy("keeper_doc_id")

  /** Character k-shingles of the text, distinct per document. `stride`
    * subsamples start positions (stride 2 halves hashing cost; adjacent
    * k-shingles overlap k-1 chars, so coverage loss is minimal). */
  def shingles(docs: DataFrame, k: Int, stride: Int = 1): DataFrame =
    docs.select(col("doc_id"),
      explode(array_distinct(transform(
        sequence(lit(1), greatest(length(col("text")) - (k - 1), lit(1)),
          lit(stride)),
        i => col("text").substr(i, lit(k)))))
        .as("shingle"))

  /** MinHash signature: numHashes minima over the doc's shingle set.
    * The hash family is 5-hex-char (20-bit) chunks of two seeded md5s —
    * 2 digest calls per shingle instead of numHashes, same minima
    * semantics (min over fixed-length hex == min over the unsigned
    * value). Requires numHashes <= 12. One narrow pass + one
    * groupBy(doc_id). */
  def minhashSignatures(sh: DataFrame, numHashes: Int): DataFrame = {
    require(numHashes <= 12, "chunked md5 family provides 12 hashes")
    val withH = sh
      .withColumn("ha", md5(concat(lit("a:"), col("shingle"))))
      .withColumn("hb", md5(concat(lit("b:"), col("shingle"))))
    val aggs = (0 until numHashes).map { j =>
      val src = if (j < 6) col("ha") else col("hb")
      val off = 1 + 5 * (j % 6)
      min(substring(src, off, 5)).as(s"h$j")
    }
    withH.groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
  }

  /** Shuffle-free signatures: the whole signature computed per document
    * row in ONE pass by the native [[org.apache.spark.sql.graft
    * .MinHashSig]] expression (no explode, no groupBy) — identical
    * output to [[minhashSignatures]]. The signature array goes through
    * an exchange barrier so CollapseProject does not re-evaluate the
    * expression once per extracted chunk column. */
  def minhashSignaturesNarrow(docs: DataFrame, k: Int, stride: Int,
                              numHashes: Int): DataFrame = {
    require(numHashes <= 12, "chunked md5 family provides 12 hashes")
    // (no spread here: MinHashSig is a cheap native one-pass expression
    // — A/B measured the extra round-robin exchange a net LOSS, d8
    // 0.80 -> 1.07 s; the barrier repartition below parallelizes
    // everything downstream)
    val withSig = docs.select(col("doc_id"),
        org.apache.spark.sql.graft.MinHashSig(col("text"), k, stride)
          .as("mh"))
      .repartition(col("doc_id"))
    val sigCols = (0 until numHashes).map { j =>
      element_at(col("mh"), j + 1).as(s"h$j")
    }
    withSig.select(col("doc_id") +: sigCols: _*)
  }

  /** LSH banding: band b = md5 of the concatenated signature rows in that
    * band. Docs sharing any band hash become candidate pairs.
    * All bands are emitted in ONE pass over the signatures (explode of a
    * struct array — a union of per-band selects would re-run the whole
    * signature aggregation per band), and the banded rows go through an
    * exchange so the self-join reuses one materialization.
    *
    * `maxBucket` caps bucket size: a degenerate bucket (one document
    * mass-duplicated 10^6 times at 100 TB) would otherwise produce one
    * collect_set row whose size² pair expansion lands on a single task —
    * the classic LSH skew killer. Buckets above the cap are DROPPED
    * (production MinHash dedup does the same: members of a huge bucket
    * still pair through their other, finer bands, and a bucket that big
    * is boilerplate better handled by exact dedup). [[lshDroppedBuckets]]
    * surfaces what was dropped — capping is never silent. */
  def lshCandidates(sig: DataFrame, numHashes: Int, bands: Int,
                    maxBucket: Int = 10000): DataFrame = {
    // bucket-local pair expansion instead of a self-join: one pipeline,
    // signatures computed exactly once.
    lshBuckets(sig, numHashes, bands)
      .where(size(col("ids")).between(2, maxBucket))
      .select(explode(expr(
        """flatten(transform(ids, (x, i) ->
          |  transform(slice(ids, i + 2, size(ids)),
          |            y -> struct(x AS doc_a, y AS doc_b))))""".stripMargin))
        .as("p"))
      .select(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"))
      .distinct()
  }

  /** All (band, band_hash) buckets with their sorted member sets — the
    * shared banding stage behind [[lshCandidates]] / [[lshDroppedBuckets]]. */
  private def lshBuckets(sig: DataFrame, numHashes: Int,
                         bands: Int): DataFrame = {
    val rows = numHashes / bands
    val bandStructs = (0 until bands).map { b =>
      val cols = (b * rows until (b + 1) * rows).map(j => col(s"h$j"))
      struct(lit(b).as("band"), md5(concat(cols: _*)).as("band_hash"))
    }
    sig.select(col("doc_id"), explode(array(bandStructs: _*)).as("bh"))
      .select(col("doc_id"), col("bh.band").as("band"),
        col("bh.band_hash").as("band_hash"))
      .groupBy("band", "band_hash")
      .agg(sort_array(collect_set(col("doc_id"))).as("ids"))
  }

  /** The buckets [[lshCandidates]] dropped under `maxBucket`, with sizes —
    * the audit trail for capping (count it, alert on it, route the member
    * docs to exact dedup). Empty when nothing was capped. */
  def lshDroppedBuckets(sig: DataFrame, numHashes: Int, bands: Int,
                        maxBucket: Int = 10000): DataFrame =
    lshBuckets(sig, numHashes, bands)
      .where(size(col("ids")) > maxBucket)
      .select(col("band"), col("band_hash"),
        size(col("ids")).cast("long").as("bucket_size"))

  /** Connected components over an undirected pair list (doc_a, doc_b) —
    * the dedup FINISHER: near-dup pairs form clusters, and one canonical
    * document (the minimum id) survives per cluster. Without this step a
    * pairwise dedup keeps B and C of a triangle A-B, A-C.
    *
    * Iterative min-label propagation: each round every node takes the
    * minimum label among itself and its neighbors (two edge-label joins
    * + a groupBy-min), until a fixpoint. Rounds needed = graph diameter
    * — near-dup clusters are shallow (stars/cliques around a template),
    * so this converges in a few rounds; each round is plain shuffles, so
    * the operator scales like any iterative Spark job (GraphX/Pregel's
    * CC is this exact loop). Deterministic throughout.
    *
    * Returns (doc_id, cluster_id = min doc_id in the component) for
    * every document that appears in at least one pair. */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 25): DataFrame = {
    // localCheckpoint (not persist): iterative algorithms re-ANALYZE the
    // whole upstream lineage every round otherwise — with an expensive
    // pair producer (minhash) the planning alone dominated the loop.
    val edges = pairs.select(col("doc_a").as("a"), col("doc_b").as("b"))
      .distinct().localCheckpoint()
    // metadata-scale fast path (r20 opt, as the log replay's driver arm):
    // an edge list under the cap collects once and union-finds on the
    // driver — zero iterative rounds, where each distributed round is
    // ~5 jobs of scheduler overhead on a local[32] box. Dedup edge
    // lists are SPARSE relative to the corpus (pairs that survived
    // LSH banding), so even large corpora often fit; past the cap the
    // distributed loop below is untouched. Size-adaptive (conf knob),
    // not a local-mode flag. Same fixpoint: cluster_id = min doc_id
    // of the component ("attach the larger root under the smaller"
    // keeps each component's minimum as its root — induction over
    // unions).
    val spark = pairs.sparkSession
    val localCap = spark.conf.getOption("spark.graft.cc.localMaxEdges")
      .flatMap(s => scala.util.Try(s.trim.toInt).toOption)
      .getOrElse(1000000)
    val idType = edges.schema("a").dataType
    if (idType == org.apache.spark.sql.types.LongType) {
      val head = edges.limit(localCap + 1).collect()
      if (head.length <= localCap) {
        val parent = new java.util.HashMap[Long, Long]()
        def find(x: Long): Long = {
          var r = x
          while (parent.get(r) != r) {
            parent.put(r, parent.get(parent.get(r))) // path halving
            r = parent.get(r)
          }
          r
        }
        head.foreach { e =>
          val (a, b) = (e.getLong(0), e.getLong(1))
          if (!parent.containsKey(a)) parent.put(a, a)
          if (!parent.containsKey(b)) parent.put(b, b)
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) {
            if (ra < rb) parent.put(rb, ra) else parent.put(ra, rb)
          }
        }
        import scala.jdk.CollectionConverters._
        val rows: java.util.List[org.apache.spark.sql.Row] =
          parent.keySet().asScala.toSeq.sorted
            .map(n => org.apache.spark.sql.Row(n, find(n))).asJava
        val schema = org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("doc_id", idType),
          org.apache.spark.sql.types.StructField("cluster_id", idType)))
        return spark.createDataFrame(rows, schema)
      }
    }
    val nodes = edges.select(col("a").as("node"))
      .union(edges.select(col("b").as("node"))).distinct()
    var labels = nodes.withColumn("label", col("node")).localCheckpoint()
    var iter = 0
    var converged = false
    while (iter < maxIter && !converged) {
      // hop 1: neighbor minimum
      val msgs = edges.join(labels, col("a") === col("node"))
        .select(col("b").as("node"), col("label"))
        .union(edges.join(labels, col("b") === col("node"))
          .select(col("a").as("node"), col("label")))
      // checkpointed before the self-join below: fresh attribute ids
      // (a Union self-joined with itself trips constraint rewriting)
      // and a truncated plan for the next round
      val hop = labels.select(col("node"), col("label")).union(msgs)
        .groupBy("node").agg(min(col("label")).as("label"))
        .localCheckpoint()
      // pointer jump: label := label(label) — doubles the propagation
      // distance per round, so a diameter-D chain converges in O(log D)
      // rounds instead of D (the GraphX/Pregel CC shortcut)
      val next = hop.as("x")
        .join(hop.select(col("node").as("pnode"),
          col("label").as("plabel")).as("y"),
          col("x.label") === col("pnode"), "left")
        .select(col("x.node").as("node"),
          least(col("x.label"), coalesce(col("plabel"), col("x.label")))
            .as("label"))
      val changed = next.as("n")
        .join(labels.as("o"), col("n.node") === col("o.node"))
        .where(col("n.label") =!= col("o.label")).limit(1).count()
      labels = next
      converged = changed == 0
      iter += 1
    }
    // never return silently-wrong (non-minimal) labels: with pointer
    // jumping, maxIter rounds cover components of diameter ~2^maxIter,
    // so tripping this means something is genuinely pathological
    require(converged,
      s"connected components did not converge in $maxIter rounds")
    labels.select(col("node").as("doc_id"), col("label").as("cluster_id"))
      .orderBy("doc_id")
  }

  /** MinHash similarity ESTIMATE for LSH candidate pairs: the fraction
    * of agreeing signature components is an unbiased estimator of the
    * pair's Jaccard similarity — the cheap middle stage of the
    * candidate -> estimate -> exact-verify funnel (estimates prune the
    * candidate list before the expensive exact intersection touches
    * the raw text). n_agree/12 is an exact integer ratio. */
  def minhashEstimate(docs: DataFrame, k: Int = 10, numHashes: Int = 12,
                      bands: Int = 4, stride: Int = 2,
                      maxBucket: Int = 10000): DataFrame = {
    val sig = minhashSignaturesNarrow(docs, k, stride, numHashes)
      .localCheckpoint() // reused by banding AND both join sides
    val pairs = lshCandidates(sig, numHashes, bands, maxBucket)
    def side(tag: String) = sig.select(
      col("doc_id").as(s"doc_$tag") +:
        (0 until numHashes).map(j => col(s"h$j").as(s"${tag}h$j")): _*)
    val agree = (0 until numHashes)
      .map(j => when(col(s"ah$j") === col(s"bh$j"), 1L).otherwise(0L))
      .reduce(_ + _)
    pairs.join(side("a"), "doc_a").join(side("b"), "doc_b")
      .select(col("doc_a"), col("doc_b"), agree.as("n_agree"))
      .withColumn("est_jaccard",
        col("n_agree").cast("double") / numHashes)
      .orderBy("doc_a", "doc_b")
  }

  /** MinHash-LSH near-dup candidates, end to end (narrow signatures). */
  def minhashLsh(docs: DataFrame, k: Int = 10, numHashes: Int = 12,
                 bands: Int = 4, stride: Int = 2,
                 maxBucket: Int = 10000): DataFrame =
    lshCandidates(minhashSignaturesNarrow(docs, k, stride, numHashes),
      numHashes, bands, maxBucket).orderBy("doc_a", "doc_b")

  /** Prefix-filtered exact n-gram Jaccard (PPJoin-style candidate
    * generation) — identical output to [[ngramJaccard]], different
    * candidate structure for the huge-block regime.
    *
    * Theorem (prefix filter): for J(a,b) >= t the overlap is at least
    * t*max(|a|,|b|), so under ANY fixed total order of the element
    * universe the smallest common element of a qualifying pair must lie
    * within the first |x| - ceil(t*|x|) + 1 elements of EACH side.
    * Candidates are therefore generated by joining only those prefixes
    * on (block, code) instead of pairing whole blocks.
    *
    * Two refinements make the prefix join follow rare-code frequency
    * instead of (block size)^2 — both from the AllPairs/PPJoin line
    * (Bayardo et al. WWW'07, Xiao et al. WWW'08):
    *
    *  - DOCUMENT-FREQUENCY order. The total order is ascending
    *    per-block (df, code), so prefixes hold each doc's RAREST codes
    *    and the boilerplate shingles every doc shares sit in suffixes,
    *    never generating candidates. Under the value order this same
    *    corpus measured the prefix path SLOWER than blocked all-pairs
    *    at 3k-doc blocks (197 s vs 129 s at 30x scale); the df order is
    *    what makes the huge-block regime actually sub-quadratic. The
    *    price is one map-side-combinable df groupBy and a per-doc
    *    window rank (partitioned by doc_id — distributed, no hot key).
    *
    *  - POSITIONAL filter. For a match at 1-based ranks (px, py) of the
    *    df order, overlap <= matched-so-far + min(|x|-px, |y|-py); for
    *    the FIRST common element matched-so-far = 1, and a qualifying
    *    pair (3*inter >= |x|+|y| at t = 0.5) always passes
    *    3*(1 + min(|x|-px, |y|-py)) >= |x|+|y| there — so keeping pairs
    *    where ANY match passes is a superset of qualifiers (integer
    *    arithmetic, no FP in the cut).
    *
    * Verification re-joins the full value-sorted arrays and applies the
    * same sorted-merge intersect count as [[ngramJaccard]], so results
    * match bit for bit regardless of candidate order or filter. */
  def ngramJaccardPrefix(docs: DataFrame, n: Int = 3): DataFrame = {
    require(n <= 3, "prefix variant uses packed codes (n <= 3)")
    // spread: shingling runs before the blocking repartition (see
    // ngramJaccard)
    val perDoc = TextAnalysis.spread(docs)
      .select(col("doc_id"), col("lang"), col("source"),
        org.apache.spark.sql.graft.NgramCodes(col("text"), n).as("sharr"))
      .withColumn("n_sh", size(col("sharr")).cast("long"))
      .repartition(col("lang"), col("source"))
    val ex = perDoc.select(col("doc_id"), col("lang"), col("source"),
      col("n_sh"), explode(col("sharr")).as("code"))
    val dfreq = ex.groupBy("lang", "source", "code")
      .agg(count(lit(1)).as("df"))
    val byRarity = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("df", "code")
    // t = 0.5: prefix length |x| - ceil(|x|/2) + 1 = floor(|x|/2) + 1
    val pre = ex.join(dfreq, Seq("lang", "source", "code"))
      .withColumn("pos", row_number().over(byRarity))
      .where(col("pos") <= (col("n_sh") / lit(2) + lit(1)).cast("int"))
    val cand = pre.as("x").join(pre.as("y"),
        col("x.lang") === col("y.lang") &&
        col("x.source") === col("y.source") &&
        col("x.code") === col("y.code") &&
        col("x.doc_id") < col("y.doc_id") &&
        col("x.n_sh") <= col("y.n_sh") * 2 &&
        col("y.n_sh") <= col("x.n_sh") * 2 &&
        (lit(1L) + least(col("x.n_sh") - col("x.pos"),
          col("y.n_sh") - col("y.pos"))) * lit(3L) >=
          col("x.n_sh") + col("y.n_sh"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    val arrays = perDoc.select(col("doc_id"), col("sharr"), col("n_sh"))
    cand
      .join(arrays.select(col("doc_id").as("doc_a"),
        col("sharr").as("arr_a"), col("n_sh").as("sh_a")), "doc_a")
      .join(arrays.select(col("doc_id").as("doc_b"),
        col("sharr").as("arr_b"), col("n_sh").as("sh_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        org.apache.spark.sql.graft.SortedIntersectCount(
          col("arr_a"), col("arr_b")).as("inter"),
        col("sh_a"), col("sh_b"))
      .repartition(col("doc_a"))
      .withColumn("un", col("sh_a") + col("sh_b") - col("inter"))
      .where(col("inter") * 2 >= col("un"))
      .select(col("doc_a"), col("doc_b"), col("inter"), col("un"),
        (col("inter").cast("double") / col("un")).as("jaccard"))
      .orderBy("doc_a", "doc_b")
  }

  /** Sub-document (chunk-level) dedup — the CCNet/Dolma-style
    * "duplicated n-gram fraction" quality signal: split each doc into
    * non-overlapping k-token chunks, hash them, and report per doc how
    * many of its chunks also appear in ANOTHER document (boilerplate /
    * template detection). Doc-level dedup misses shared passages inside
    * otherwise-distinct documents; this is the operator that catches
    * them.
    *
    * Shape: explode chunks (narrow), one groupBy(chunk_hash) for global
    * doc-frequency (map-side combine), join back, integer-exact ratio.
    * At 100 TB a boilerplate chunk is a hot key, but BOTH halves
    * degrade gracefully: the groupBy collapses the hot hash map-side
    * (one row per input partition reaches the shuffle), and the join
    * back is a shuffle join AQE skew-handling splits — unlike a
    * window, which would pin the key's whole occurrence set to one
    * task. Operating envelope: fine as-is under AQE; with AQE off,
    * salt the join key. */
  def chunkDedup(docs: DataFrame, k: Int = 10): DataFrame = {
    val toks = filter(split(col("text"), " "), t => t =!= "")
    val nChunks = ceil(size(toks).cast("double") / k).cast("int")
    val chunks = docs
      .select(col("doc_id"),
        explode(transform(sequence(lit(0), greatest(nChunks, lit(1)) - 1),
          i => concat_ws(" ", slice(toks, i * k + 1, lit(k))))).as("chunk"))
      .select(col("doc_id"), md5(col("chunk")).as("chunk_hash"))
    val freq = chunks.groupBy("chunk_hash")
      .agg(countDistinct(col("doc_id")).as("n_docs"))
    chunks.join(freq, "chunk_hash")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("n_docs") > 1, 1L).otherwise(0L)).as("dup_chunks"))
      .select(col("doc_id"), col("n_chunks"), col("dup_chunks"),
        (col("dup_chunks").cast("double") / col("n_chunks"))
          .as("dup_ratio"))
      .orderBy("doc_id")
  }

  /** Word n-grams (adjacent windows of n whitespace tokens, joined by a
    * single space), one row per (doc_id, gram) with duplicates kept.
    * Documents shorter than n grams emit nothing. */
  def wordNgrams(docs: DataFrame, n: Int): DataFrame = {
    val toks = filter(split(col("text"), " "), t => t =!= "")
    // guard: sequence(1, 0) DESCENDS [1, 0] — short docs emit nothing
    val grams = when(size(toks) >= n,
      transform(sequence(lit(1), size(toks) - (n - 1)),
        i => concat_ws(" ", slice(toks, i, lit(n)))))
      .otherwise(array().cast("array<string>"))
    docs.select(col("doc_id"), explode(grams).as("gram"))
  }

  /** Eval-set decontamination: documents that share at least one word
    * `n`-gram with the held-out set selected by `evalPred` — the standard
    * test-set-leakage check run before training (e.g. GPT-3 appendix C /
    * PaLM's 8-gram overlap rule). Returns (doc_id, n_shared) of
    * contaminated TRAINING docs (eval docs themselves excluded), with
    * the count of distinct leaked n-grams.
    *
    * Scale: the eval side is distinct-ed and tiny relative to the corpus
    * (benchmarks, not corpora) — it is broadcast, so the 100 TB training
    * side takes ONE narrow pass (shingle + broadcast-hash-probe) with
    * the only shuffle being the final groupBy(doc_id) over surviving
    * matches, which are rare by construction. */
  def decontaminate(docs: DataFrame, evalPred: Column,
                    n: Int = 8): DataFrame = {
    val evalGrams = wordNgrams(docs.where(evalPred), n)
      .select("gram").distinct()
    // spread the TRAINING side: its gram explode is the narrow pass the
    // broadcast probe rides, single-task on a 1-file corpus otherwise
    wordNgrams(TextAnalysis.spread(docs.where(!evalPred)), n)
      .join(broadcast(evalGrams), "gram")
      .groupBy("doc_id")
      .agg(countDistinct(col("gram")).as("n_shared"))
      .orderBy("doc_id")
  }

  /** [[decontaminate]] behind a Bloom-filter prefilter — the shape that
    * survives when the eval shingle set outgrows a broadcast hash join:
    * fold the eval grams into ONE bloom sketch (`bloom_filter_agg`,
    * bitwise-OR merge so the build is order-independent and exact),
    * broadcast the kilobytes-to-megabytes sketch instead of the gram
    * set, and probe it with a codegen'd `might_contain` during the
    * corpus's narrow shingle pass. Bloom false positives are then
    * removed by an exact join against the (distinct) eval grams, so
    * the RESULT is identical to the exact path — the filter only
    * shrinks the join's probe side (by ~(1-fpp) for clean corpora).
    *
    * At 100 TB: the sketch stays driver-small for any fpp while the
    * eval set may be 10^9 grams; the exact verify join only sees bloom
    * survivors (true overlaps + fpp of the corpus). */
  def bloomDecontaminate(docs: DataFrame, evalPred: Column, n: Int = 8,
                         expectedItems: Long = 1000000L,
                         fpp: Double = 0.01): DataFrame = {
    val evalGrams = wordNgrams(docs.where(evalPred), n)
      .select("gram").distinct()
    val numBits = math.max(64L,
      (-expectedItems * math.log(fpp) / (math.log(2) * math.log(2))).toLong)
    val bloom = evalGrams.agg(
      org.apache.spark.sql.graft.BloomFns.bloomAgg(
        xxhash64(col("gram")), expectedItems, numBits).as("bf"))
    // spread the corpus side: the shingle + might_contain probe pass is
    // the whole cost at scale, single-task on a 1-file corpus otherwise
    wordNgrams(TextAnalysis.spread(docs.where(!evalPred)), n)
      .where(org.apache.spark.sql.graft.BloomFns.mightContain(
        bloom, xxhash64(col("gram"))))
      // NO broadcast hint here: the whole point of the bloom path is an
      // eval set too large to broadcast — the verify join runs shuffled
      // (or AQE-broadcast when it happens to be small) against only the
      // bloom survivors
      .join(evalGrams, "gram")
      .groupBy("doc_id")
      .agg(countDistinct(col("gram")).as("n_shared"))
      .orderBy("doc_id")
  }

  /** SimHash (32-bit): md5 each token; each bit votes +1/-1 weighted by
    * token multiplicity; bit j set iff the vote sum is positive.
    * One native pass per document ([[org.apache.spark.sql.graft
    * .SimHash64]]); token-less docs are dropped, matching the exploded
    * composition (no token rows -> no output row). */
  def simhash(docs: DataFrame): DataFrame =
    docs.where(org.apache.spark.sql.graft.TokenCount(col("text")) > 0)
      .select(col("doc_id"),
        org.apache.spark.sql.graft.SimHash64(col("text")).as("simhash"))
      .orderBy("doc_id")

  /** The exploded (doc x token x bit) composition of [[simhash]] — kept
    * as the documented reference form for parity testing. */
  def simhashComposed(docs: DataFrame): DataFrame = {
    val toks = docs.select(col("doc_id"),
      explode(TextAnalysis.tokens(col("text"))).as("token"))
      .withColumn("hhex", md5(col("token")))
    val bits = toks.select(col("doc_id"), col("hhex"),
      explode(sequence(lit(0), lit(31))).as("j"))
      .withColumn("nib",
        expr("instr('0123456789abcdef', substring(hhex, 1 + cast(j / 4 as int), 1)) - 1"))
      .withColumn("bit", expr("(nib >> (j % 4)) & 1"))
      .withColumn("contrib", col("bit") * 2 - 1)
    bits.groupBy("doc_id", "j")
      .agg(sum(col("contrib")).as("vote"))
      .withColumn("bitval",
        when(col("vote") > 0, expr("cast(shiftleft(cast(1 as bigint), cast(j as int)) as bigint)"))
          .otherwise(lit(0L)))
      .groupBy("doc_id")
      .agg(sum(col("bitval")).as("simhash"))
      .orderBy("doc_id")
  }

  /** Exact n-gram Jaccard on blocked pairs: candidates limited to the same
    * (lang, source) block — the blocking key stands in for an LSH bucket
    * so the pair space stays linear-ish, never the full cross join.
    * Threshold is evaluated on integers (2*inter >= union  <=>  J >= 0.5)
    * — no FP in the cut. */
  def ngramJaccard(docs: DataFrame, n: Int = 3): DataFrame = {
    // One distinct-shingle ARRAY per doc, then a block-level pair join
    // with a sorted-merge intersect count — the pair space is
    // (block size)^2, and the per-(block,shingle) row explosion of a
    // shingle-equality join (quadratic in docs-per-shingle) never
    // materializes. Shingles are packed into BIGINT codes so the merge
    // runs on primitives: no per-element UTF8String allocation, ~4x less
    // join-row weight. Packing: Spark's ascii() returns the full Unicode
    // code point (<= 0x10FFFF < 2^21), so n <= 3 uses 21-bit slots —
    // injective for ALL text, ASCII or not (3*21 = 63 bits). For
    // 4 <= n <= 7 a positional packing cannot fit a 64-bit word, so the
    // code is the first 60 bits of md5(shingle) — a hashed shingle with
    // collision probability ~|shingles|^2/2^61 (negligible, documented).
    require(n <= 7, "bigint n-gram codes support n <= 7")
    // n <= 3: native one-pass expression (codegen; the equivalent
    // sequence/transform composition runs interpreted lambdas per
    // element and measured ~25x slower). n in 4..7: hashed-code
    // composition (no packed form fits 64 bits).
    val sharr: Column =
      if (n <= 3) org.apache.spark.sql.graft.NgramCodes(col("text"), n)
      else array_sort(array_distinct(transform(
        sequence(lit(1), greatest(length(col("text")) - (n - 1), lit(1))),
        i => conv(substring(md5(col("text").substr(i, lit(n))), 1, 15),
          16, 10).cast("long"))))
    // spread first: the shingling select below runs BEFORE the blocking
    // repartition, so on a 1-file corpus it would be one task
    val perDoc = TextAnalysis.spread(docs)
      .select(col("doc_id"), col("lang"), col("source"), sharr.as("sharr"))
      .withColumn("n_sh", size(col("sharr")).cast("long"))
      // exchange barrier + block co-location: materializes the (expensive)
      // shingling once per doc — without it the streamed join side
      // recomputes sharr for every output pair — and pre-partitions both
      // self-join sides by the blocking key.
      .repartition(col("lang"), col("source"))
    val a = perDoc.as("a")
    val b = perDoc.as("b")
    a.join(b,
        col("a.lang") === col("b.lang") &&
        col("a.source") === col("b.source") &&
        col("a.doc_id") < col("b.doc_id") &&
        // size-band prune: J >= 0.5 forces max(n) <= 2*min(n), so these
        // pairs can never reach the final threshold — dropping them here
        // cannot change results, it only skips doomed intersects.
        col("a.n_sh") <= col("b.n_sh") * 2 &&
        col("b.n_sh") <= col("a.n_sh") * 2)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        org.apache.spark.sql.graft.SortedIntersectCount(col("a.sharr"), col("b.sharr"))
          .as("inter"),
        col("a.n_sh").as("sh_a"), col("b.n_sh").as("sh_b"))
      // exchange barrier: without it CollapseProject inlines the
      // array_intersect expression into every downstream reference
      // (un / filter / jaccard), evaluating it ~6x per pair — measured
      // 34s -> ~7s at sf0.1. The shuffle rows are tiny (arrays already
      // projected away).
      .repartition(col("doc_a"))
      .withColumn("un", col("sh_a") + col("sh_b") - col("inter"))
      .where(col("inter") * 2 >= col("un"))
      .select(col("doc_a"), col("doc_b"), col("inter"), col("un"),
        (col("inter").cast("double") / col("un")).as("jaccard"))
      .orderBy("doc_a", "doc_b")
  }

  /** [[ngramJaccard]] with per-block dispatch: blocks of at most
    * `maxBlockDocs` documents run the blocked all-pairs sorted-merge
    * (cheapest when (block size)^2 is small), larger blocks run the
    * prefix-filter variant ([[ngramJaccardPrefix]]), whose cost follows
    * shared-rare-prefix frequency instead of (block size)^2. Both are
    * EXACT and pairs never cross blocks, so the dispatch is
    * output-invariant — it only picks the cheaper plan per block. This
    * is the 100 TB operating mode: a (en, web) block with 10^6+
    * documents would make the all-pairs join a straggler and a
    * (block size)^2 pair space, exactly the degenerate-block discipline
    * of LSH `maxBucket` / SemDeDup `maxCell`.
    *
    * The default crossover is MEASURED (r9 scale curve, 32 cores): on
    * the 10x/30x synthetic corpora the df-ordered prefix path breaks
    * even at ~1k-doc blocks (11.1 s vs 13.7 s for a corpus of 240–1120-
    * doc blocks) and dominates from there (23.0 s vs 107.9 s at
    * 720–3360-doc blocks — all-pairs grew 7.9x for 3x data, prefix
    * 2.1x); at ~100-doc blocks all-pairs wins on candidate-generation
    * overhead alone. 500 sits inside the flat part of the crossover.
    *
    * The block census is one map-side-combinable groupBy over
    * (lang, source) — block cardinality rows, broadcast back. */
  def ngramJaccardAuto(docs: DataFrame, n: Int = 3,
                       maxBlockDocs: Long = 500L): DataFrame = {
    require(n <= 3, "prefix variant uses packed codes (n <= 3)")
    // the census is block-cardinality rows — collect it and short-
    // circuit when every block falls on one side, so the common case
    // (homogeneous corpus) pays one tiny count job, not a second scan
    // of an empty branch
    val sizes = docs.groupBy("lang", "source")
      .agg(count(lit(1)).as("__block_docs"))
    val counts = sizes.select("__block_docs").as(docs.sparkSession.implicits
      .newLongEncoder).collect()
    if (counts.forall(_ <= maxBlockDocs)) return ngramJaccard(docs, n)
    if (counts.forall(_ > maxBlockDocs)) return ngramJaccardPrefix(docs, n)
    val tagged = docs.join(broadcast(sizes), Seq("lang", "source"))
    val small = tagged.where(col("__block_docs") <= maxBlockDocs)
      .drop("__block_docs")
    val big = tagged.where(col("__block_docs") > maxBlockDocs)
      .drop("__block_docs")
    ngramJaccard(small, n).unionByName(ngramJaccardPrefix(big, n))
      .orderBy("doc_a", "doc_b")
  }
}
