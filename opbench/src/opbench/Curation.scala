package opbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.catalog.GraftConfig
import graft.io.MiniDelta
import graft.llm.{Dedup, Similarity, TextAnalysis}

/** A batch curation job over a seeded corpus with planted duplicates.
  *
  * Corpus: [[Bases]] base documents of 40-70 words (one in 20 is junk:
  * digits and punctuation), plus exact copies of [[ExactBases]] bases and
  * one near copy (the text plus a trailing '.') of [[NearBases]] bases;
  * document ids are a seeded permutation. Every document has a
  * 16-dimension embedding; [[Queries]] documents have a planted twin
  * vector (the query plus noise of 1e-3).
  *
  * One pass: `Dedup.exact` -> `minhashLsh` -> `connectedComponents` ->
  * a `TextAnalysis.qualityScore` filter -> `Similarity.bruteForceTopK`
  * and `ivfTopK` over the queries, then the survivors (cluster minima
  * that pass the filter) are appended to the curated table as one commit
  * of [[Shards]] partition files. Checked against the plant: exact
  * groups and copies, the cluster count and sizes, the rejected set,
  * each query's top-1 neighbour on both search paths, the survivor count
  * and the committed version. Each pass is followed by [[ReadBacks]]
  * fresh reads of one shard each (`currentVersion` + `readFiltered`
  * count), checked against the survivors committed to that shard. */
final class Curation(spark: SparkSession, seed: Long, tr: Tracer)
    extends Workload {
  import Curation._
  import spark.implicits._

  private var corpus: String = _
  private var emb: String = _
  private var curated: String = _
  private var version = -1L
  private var exactGroups = 0
  private var exactDocs = 0L
  private var clusterSizes: Seq[Int] = Nil
  private var truePairs: Set[(Long, Long)] = Set.empty
  private var junk: Set[Long] = Set.empty
  private var twins: Map[Long, Long] = Map.empty
  private var survivors = 0L
  private var perShard: Map[Long, Long] = Map.empty
  private var passes = 0L
  private var docs = 0L
  // the last pass's LSH candidate pairs
  private var pairs: Array[(Long, Long)] = Array.empty
  private val pick = new scala.util.Random(seed + 1)

  def setup(dir: String, r: Runner): Unit = {
    val gen = new scala.util.Random(seed)
    val vocab = Vector.fill(2000)(
      Iterator.fill(3 + gen.nextInt(7))(('a' + gen.nextInt(26)).toChar).mkString)
    val stop = Vector("the", "a", "of", "and", "to", "in", "is")
    def text(): String =
      Vector.fill(40 + gen.nextInt(31))(
        if (gen.nextInt(4) == 0) stop(gen.nextInt(stop.size))
        else vocab(gen.nextInt(vocab.size))).mkString(" ") + "."
    def junkText(): String =
      Vector.fill(30 + gen.nextInt(20))(
        Iterator.fill(2 + gen.nextInt(4))("0123456789#$%&*+=!?"
          .charAt(gen.nextInt(19))).mkString).mkString(" ")
    // base index -> the texts planted for it (base first)
    val groups = (0 until Bases).map { b =>
      val isJunk = b % 20 == 0
      val base = if (isJunk) junkText() else text()
      (b, isJunk, base)
    }
    val clean = gen.shuffle(groups.filterNot(_._2).map(_._1))
    val exactOf = clean.take(ExactBases).map(b => b -> (1 + gen.nextInt(2))).toMap
    val nearOf = gen.shuffle(clean).take(NearBases).toSet
    val texts = mutable.ArrayBuffer.empty[(Int, String)] // (base, text)
    groups.foreach { case (b, _, t) =>
      texts += ((b, t))
      (0 until exactOf.getOrElse(b, 0)).foreach(_ => texts += ((b, t)))
      if (nearOf(b)) texts += ((b, t + "."))
    }
    val ids = gen.shuffle((0L until texts.size.toLong).toVector)
    val rows = texts.zip(ids).map { case ((b, t), id) => (id, b, t) }
    docs = rows.size.toLong
    val byBase = rows.groupBy(_._2).map { case (b, rs) => b -> rs.map(_._1).sorted }
    exactGroups = exactOf.size
    exactDocs = exactOf.map(_._2 + 1L).sum
    val dupBases = (exactOf.keySet ++ nearOf).toSeq
    clusterSizes = dupBases.map(byBase(_).size).sorted
    truePairs = dupBases.flatMap { b =>
      val m = byBase(b)
      for (i <- m.indices; j <- i + 1 until m.size) yield (m(i), m(j))
    }.toSet
    junk = groups.filter(_._2).map(g => byBase(g._1).head).toSet
    survivors = (Bases - junk.size).toLong
    perShard = groups.filterNot(_._2).map(g => byBase(g._1).head)
      .groupBy(id => id % Shards).map { case (k, v) => k -> v.size.toLong }

    // embeddings: random vectors; each query's twin sits 1e-3 away
    val vec = mutable.Map.empty[Long, Array[Float]]
    rows.foreach { case (id, _, _) =>
      vec(id) = Array.fill(Dim)(gen.nextGaussian().toFloat) }
    val qs = gen.shuffle(ids.filter(_ >= Cells)).take(Queries * 2).grouped(2)
      .map(p => p(0) -> p(1)).toMap
    qs.foreach { case (q, t) =>
      vec(t) = vec(q).map(x => x + (gen.nextGaussian() * 1e-3).toFloat) }
    twins = qs

    corpus = s"$dir/corpus"
    emb = s"$dir/emb"
    curated = s"$dir/curated"
    rows.map { case (id, _, t) => (id, t) }.toSeq.toDF("doc_id", "text")
      .repartition(Shards).write.parquet(corpus)
    vec.toSeq.map { case (id, v) => (id, v) }.toDF("vec_id", "embedding")
      .repartition(Shards).write.parquet(emb)
    Workload.runCaches(GraftConfig()).applyCaches()
    version = -1L
    passes = 0L
    passOp(r, WarmupReadBacks)
  }

  def run(r: Runner, ops: Int): Unit =
    (0 until ops).foreach(_ => passOp(r, ReadBacks))

  /** One pass, then `readBacks` fresh reads of single shards of the
    * curated table, each checked against the survivors per shard. */
  private def passOp(r: Runner, readBacks: Int): Unit = {
    if (r.op("pass")(pass())) tr.after {
      // LSH candidates that are planted pairs, and what the survivor
      // commit logged: measured once the pass has returned
      if (pairs.nonEmpty)
        tr.count("llm.pair_precision",
          pairs.count(truePairs).toDouble / pairs.length)
      val st = Workload.commitStats(curated, version)
      tr.count("pass.files_written", st.adds.toDouble)
      tr.count("pass.log_bytes", st.logBytes.toDouble)
    }
    passes += 1
    (0 until readBacks).foreach { _ =>
      val s = pick.nextInt(Shards).toLong
      r.op("fresh_read") {
        val v = tr.span("log.version")(MiniDelta.currentVersion(spark, curated))
        val n = tr.span("scan")(MiniDelta.readFiltered(spark, curated,
          Seq(Map("shard" -> s.toString))).count())
        tr.count("scan.rows", n.toDouble)
        v == version && n == passes * perShard.getOrElse(s, 0L)
      }
    }
  }

  private def pass(): Boolean = {
    val d = spark.read.parquet(corpus)
    val e = spark.read.parquet(emb)
    val groups = tr.span("llm.exact")(Dedup.exact(d)
      .where(col("n_copies") > 1).select("n_copies").collect().map(_.getLong(0)))
    pairs = tr.span("llm.minhash")(Dedup.minhashLsh(d).collect()
      .map(p => (p.getLong(0), p.getLong(1))))
    val pairsDF = pairs.toSeq.toDF("doc_a", "doc_b")
    val comps = tr.span("llm.cc")(Dedup.connectedComponents(pairsDF)
      .collect().map(c => (c.getLong(0), c.getLong(1))))
    val rejected = tr.span("llm.filter")(TextAnalysis.qualityScore(d)
      .where(col("quality_score") < MinQuality).select("doc_id").collect()
      .map(_.getLong(0)).toSet)
    val queries = col("vec_id").isin(twins.keys.toSeq: _*)
    val (brute, ivf) = tr.span("llm.topk")((
      Similarity.bruteForceTopK(e, queries, 1).select("query_id", "cand_id")
        .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap,
      Similarity.ivfTopK(e, queries, Cells, 2, 1).select("query_id", "cand_id")
        .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap))
    // survivors: everything outside a cluster or its minimum, minus junk
    val dropped = comps.filter { case (id, c) => id != c }.map(_._1).toSet ++ rejected
    val keep = d.join(broadcast(dropped.toSeq.toDF("doc_id")), Seq("doc_id"),
      "left_anti").withColumn("shard", pmod(col("doc_id"), lit(Shards.toLong)))
    val kept = keep.count()
    val v = tr.span("commit.append")(
      MiniDelta.append(spark, keep, curated, Seq("shard")))
    version += 1
    val sizes = comps.groupBy(_._2).values.map(_.length).toSeq.sorted
    groups.length == exactGroups && groups.sum == exactDocs &&
      sizes == clusterSizes && rejected == junk &&
      brute == twins && ivf == twins && kept == survivors && v == version
  }

  override def totals(r: Runner): Map[String, Double] = {
    val live = MiniDelta.snapshotFiles(spark, curated)
      .agg(sum("size")).head().getLong(0).toDouble
    Map("storage_amp" -> Workload.dirBytes(curated) / live,
      "docs" -> docs.toDouble * r.records.count(_.kind == "pass"))
  }
}

object Curation {
  val Bases = 600
  val ExactBases = 40
  val NearBases = 40
  val Dim = 16
  val Queries = 16
  val Cells = 8
  val Shards = 16
  val MinQuality = 0.5
  val ReadBacks = 10
  val WarmupReadBacks = 2 // after set-up's one warm-up pass
}
