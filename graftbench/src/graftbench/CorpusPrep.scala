package graftbench

import java.nio.file.Path

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.{DedupFunctions, Similarity, TextFunctions}

/** LLM-data preparation: quality signals, near-duplicate detection and ANN
  * search over a seeded corpus.
  *
  * Set-up: documents with a long tail of lengths (Pareto), a share of
  * repetitive spam, planted near-duplicate pairs above and below the
  * Jaccard threshold; clustered embeddings and query vectors. Loop, per
  * step: the quality signals (`qualityKeep` and the `topGramChars` /
  * `dupGramChars` repetition fractions), `nearDupMinHash`, on the first
  * step `ivfIndexWrite`, then every query through one `ivfTopKIndexed`
  * call; unrecorded full steps warm up first. Exact k-NN ground truth is
  * computed in the driver by the checks, untimed.
  *
  * op = one ANN call answering every query; rows_per_s = documents through
  * quality signals and dedup / their time, per step.
  */
final class CorpusPrep extends Stream {
  val name = "corpus_prep"

  val Docs = 120
  val Vocab = 3000
  val MinLen = 15
  val MaxLen = 100
  val ParetoAlpha = 2.5
  val SpamShare = 0.05
  val ExactPairs = 3
  val NearPairs = 3
  val WeakPairs = 4
  val Threshold = 0.8
  val Vectors = 6000
  val Dim = 32
  val Clusters = 50
  val Queries = 60
  val K = 10
  val NList = 32
  val NProbe = 4
  /** More steps than the dataset stream's three: these operations take
    * under a second, so a median needs more of them.
    */
  val minSteps = 4
  /** Their JIT-compiled paths keep speeding up over several steps. */
  val WarmUpSteps = 2
  /** Lowest acceptable mean recall@10: a guard against a broken index, far
    * below what the index reaches on this data.
    */
  val RecallFloor = 0.5

  final class State(val corpus: String, val vectors: String, val queries: String, val index: String,
      val texts: Map[Long, Array[String]], val strong: Seq[(Long, Long)],
      val vecs: Array[Array[Float]], val qs: Array[Array[Float]]) {
    /** The neighbours each query got the first time it was answered. */
    val answers = mutable.HashMap.empty[Long, Set[Long]]
    var indexed = false
    val reported = mutable.ArrayBuffer.empty[Set[(Long, Long)]]
  }

  private def shingles(t: Array[String]): Set[String] =
    t.sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSet

  def jaccard(a: Array[String], b: Array[String]): Double = {
    val sa = shingles(a)
    val sb = shingles(b)
    (sa intersect sb).size.toDouble / (sa union sb).size
  }

  private def genCorpus(seed: Long): (Array[Array[String]], Seq[(Long, Long)], Seq[(Long, Long)]) = {
    val rnd = new java.util.SplittableRandom(seed * 104729L + 3L)
    val vocab = Array.tabulate(Vocab) { _ =>
      val n = 3 + rnd.nextInt(6)
      new String(Array.fill(n)(('a' + rnd.nextInt(26)).toChar))
    }
    def word(): String = { val u = rnd.nextDouble(); vocab((u * u * Vocab).toInt) }
    // the length tail and the spam share are stratified, not sampled: every
    // seed gets the same multiset of lengths (the quadratic signals' cost
    // follows the tail, so a sampled tail would make cost vary by seed),
    // in a seeded order, with every 1/SpamShare-th document spam
    val base = Docs - 2 * (ExactPairs + NearPairs + WeakPairs)
    val lengths = shuffle(rnd, (0 until base).map { k =>
      math.min(MaxLen, (MinLen * math.pow((k + 0.5) / base, -1.0 / ParetoAlpha)).toInt)
    })
    val spamEvery = math.round(1 / SpamShare).toInt
    val docs = mutable.ArrayBuffer.empty[Array[String]]
    lengths.zipWithIndex.foreach { case (len, k) =>
      if (k % spamEvery == spamEvery - 1) {
        val phrase = Array.fill(3 + k % 5)(word())
        docs += Array.tabulate(len)(i => phrase(i % phrase.length))
      } else docs += Array.fill(len)(word())
    }
    // planted pairs: a fresh source document of `len` words and a copy with
    // `m` words replaced
    def plant(len: Int, m: Int): (Long, Long) = {
      val src = Array.fill(len)(word())
      val copy = src.clone()
      (0 until m).foreach(_ => copy(rnd.nextInt(len)) = word())
      docs += src
      docs += copy
      ((docs.size - 2).toLong, (docs.size - 1).toLong)
    }
    // exact copies, and near copies long enough (120+ words, one word
    // replaced: Jaccard >= 0.95) that 8x4 LSH misses one with p < 1e-5
    val strong = (0 until ExactPairs).map(k => plant(30 + 10 * k, 0)) ++
      (0 until NearPairs).map(k => plant(120 + 10 * k, 1))
    // a sixth of the words replaced: Jaccard ~0.4, never reported
    val weak = (0 until WeakPairs).map(k => plant(40 + 10 * k, (40 + 10 * k) / 6))
    (docs.toArray, strong, weak)
  }

  private def shuffle[T](rnd: java.util.SplittableRandom, xs: Seq[T]): Seq[T] =
    xs.map(x => (rnd.nextLong(), x)).sortBy(_._1).map(_._2)

  private def genVectors(seed: Long): (Array[Array[Float]], Array[Array[Float]]) = {
    val rnd = new java.util.SplittableRandom(seed * 15485863L + 5L)
    def gauss(): Double = {
      // Box-Muller; SplittableRandom has no nextGaussian before JDK 17's RandomGenerator
      val u1 = 1.0 - rnd.nextDouble()
      math.sqrt(-2 * math.log(u1)) * math.cos(2 * math.Pi * rnd.nextDouble())
    }
    val centers = Array.fill(Clusters)(Array.fill(Dim)(gauss()))
    // clusters of equal size (point k belongs to cluster k mod Clusters)
    def point(k: Int): Array[Float] = {
      val c = centers(k % Clusters)
      Array.tabulate(Dim)(d => (c(d) + 0.6 * gauss()).toFloat)
    }
    (Array.tabulate(Vectors)(point), Array.tabulate(Queries)(k => point(k * 7)))
  }

  def setup(ctx: Ctx, dir: Path): State = {
    val spark = ctx.spark
    val (docs, strong, weak) = genCorpus(ctx.seed)
    val corpus = dir.resolve("corpus").toString
    val docSchema = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType)))
    spark.createDataFrame(docs.indices.map(i => Row(i.toLong, docs(i).mkString(" "))).asJava, docSchema)
      .repartition(4).write.parquet(corpus)
    val (vecs, qs) = genVectors(ctx.seed)
    val vecSchema = StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType, containsNull = false))))
    val vectors = dir.resolve("vectors").toString
    spark.createDataFrame(vecs.indices.map(i => Row(i.toLong, vecs(i).toSeq)).asJava, vecSchema)
      .repartition(4).write.parquet(vectors)
    val queries = dir.resolve("queries").toString
    spark.createDataFrame(qs.indices.map(i => Row(1000000L + i, qs(i).toSeq)).asJava, vecSchema)
      .coalesce(1).write.parquet(queries)
    val s = new State(corpus, vectors, queries, dir.resolve("ivf").toString,
      docs.indices.map(i => i.toLong -> docs(i)).toMap, strong, vecs, qs)
    s
  }

  /** Exact top-K by cosine rounded to 6 places, ties to the smaller id —
    * the ranking the engine's top-k operators use.
    */
  private def exactTopK(vecs: Array[Array[Float]], qs: Array[Array[Float]]): Map[Long, Seq[Long]] = {
    def norm(v: Array[Float]) = math.sqrt(v.foldLeft(0.0)((a, x) => a + x.toDouble * x))
    val norms = vecs.map(norm)
    qs.indices.map { q =>
      val qv = qs(q)
      val qn = norm(qv)
      val cos = Array.tabulate(vecs.length) { i =>
        var dot = 0.0
        var d = 0
        while (d < Dim) { dot += qv(d).toDouble * vecs(i)(d); d += 1 }
        dot / (qn * norms(i))
      }
      // rank the best few by the rounded cosine the engine ranks by
      val shortlist = cos.indices.sortBy(i => -cos(i)).take(4 * K)
      (1000000L + q) -> shortlist
        .map(i => (BigDecimal(cos(i)).setScale(6, BigDecimal.RoundingMode.HALF_UP), i.toLong))
        .sortBy { case (c, i) => (-c, i) }.take(K).map(_._2)
    }.toMap
  }

  private def signals(docs: DataFrame): DataFrame = {
    val t = docs.select(col("doc_id"), TextFunctions.tokens(lower(col("text"))).as("t"))
    val g = t.select(col("doc_id"), col("t"),
      TextFunctions.ngrams(col("t"), 2).as("g2"), TextFunctions.ngrams(col("t"), 3).as("g3"))
    g.select(col("doc_id"),
      TextFunctions.qualityKeep(col("t")).as("keep"),
      (TextFunctions.topGramChars(col("g2")) / TextFunctions.totalGramChars(col("g2"))).as("top2_frac"),
      (TextFunctions.dupGramChars(col("g3")) / TextFunctions.totalGramChars(col("g3"))).as("dup3_frac"))
  }

  /** [[WarmUpSteps]] full steps, the first with the index build. */
  def warmUp(ctx: Ctx, s: State): Unit = (1 to WarmUpSteps).foreach(k => step(ctx, s, -k))

  /** A corpus pass — quality signals, near-duplicate detection — then, on
    * the first warm-up step and the first step, the index build, then every
    * query once.
    */
  def step(ctx: Ctx, s: State, i: Int): Unit = {
    val docs = ctx.spark.read.parquet(s.corpus)
    val t0 = System.nanoTime()
    ctx.op("quality") {
      ctx.span("functions.text.quality") { ctx.consume.noop(signals(docs), "quality", Some(Docs.toLong)) }
    }
    ctx.op("dedup") {
      val pairs = ctx.span("functions.dedup.minhash") {
        DedupFunctions.nearDupMinHash(docs, "doc_id", "text", threshold = Threshold).collect()
      }
      s.reported += pairs.map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    ctx.rate("docs", Docs.toDouble, (System.nanoTime() - t0) / 1e9)
    if (i == 0 || !s.indexed) {
      ctx.op("index") {
        ctx.span("functions.similarity.ivf_index") {
          Similarity.ivfIndexWrite(ctx.spark.read.parquet(s.vectors), "vec_id", "embedding", s.index,
            nlist = NList)
        }
      }
      s.indexed = true
    }
    ctx.op("ann") {
      val got = ctx.span("functions.similarity.ivf_topk") {
        Similarity.ivfTopKIndexed(ctx.spark.read.parquet(s.queries), "vec_id", "embedding", s.index,
          k = K, nprobe = NProbe).select("query_id", "neighbor_id").collect()
      }
      if (got.length != Queries * K)
        throw new IllegalStateException(s"ann: ${got.length} rows, want ${Queries * K}")
      got.groupBy(_.getLong(0)).foreach { case (qid, rs) =>
        if (!s.answers.contains(qid)) s.answers(qid) = rs.map(_.getLong(1)).toSet
      }
    }
  }

  def check(ctx: Ctx, s: State): Unit = {
    val threshold = Threshold - 1e-4 // reported Jaccard is rounded to 4 places
    val strongJ = s.strong.map { case (a, b) => jaccard(s.texts(a), s.texts(b)) }
    ctx.ops.check("corpus_prep: planted near-duplicate pairs are above the threshold") {
      strongJ.forall(_ >= Threshold)
    }
    s.reported.zipWithIndex.foreach { case (pairs, i) =>
      val missed = s.strong.filterNot(pairs.contains)
      ctx.ops.check(s"corpus_prep pass $i: every planted pair above the threshold is found") {
        if (missed.nonEmpty) System.err.println(s"[graftbench] missed pairs: ${missed.take(5)}")
        missed.isEmpty
      }
      ctx.ops.check(s"corpus_prep pass $i: no reported pair falls below the threshold") {
        pairs.forall { case (a, b) => jaccard(s.texts(a), s.texts(b)) >= threshold }
      }
    }
    ctx.ops.check("corpus_prep: every query was answered") { s.answers.size == Queries }
    // exact k-NN in the driver, untimed
    val truth = exactTopK(s.vecs, s.qs)
    val recall = if (s.answers.isEmpty) 0.0 else
      s.answers.map { case (q, found) => truth(q).count(found.contains).toDouble / K }.sum / s.answers.size
    ctx.counts("functions.similarity.recall_at_10") = recall
    ctx.ops.check(s"corpus_prep: mean recall@10 $recall >= $RecallFloor") { recall >= RecallFloor }
    val verified = s.reported.headOption.map(_.size).getOrElse(0)
    ctx.counts("functions.dedup.minhash.verified_pairs") = verified.toDouble
    if (ctx.tracer.enabled) {
      val sigs = DedupFunctions.minHashSignatures(ctx.spark.read.parquet(s.corpus), "doc_id", "text")
      val candidates = DedupFunctions.nearDupMinHashFromSignatures(sigs, threshold = 0.0).count()
      ctx.counts("functions.dedup.minhash.candidate_pairs") = candidates.toDouble
      ctx.counts("functions.dedup.minhash.verified_per_candidate") =
        if (candidates == 0) 0.0 else verified.toDouble / candidates
    }
  }

  def endToEnd(ctx: Ctx, s: State): Map[String, Double] =
    EndToEnd.of(ctx.ops.of("ann"), ctx.ratesOf("docs"))

  override def details(ctx: Ctx, s: State): Map[String, Any] =
    EndToEnd.tailDetail(ctx.ops, Seq("ann")) ++ Map(
      "passes" -> s.reported.size,
      "recall_at_10" -> ctx.counts.getOrElse("functions.similarity.recall_at_10", 0.0),
      "ann_qps" -> Queries / Stats.median(ctx.ops.of("ann")),
      "reported_pairs" -> s.reported.headOption.map(_.size).getOrElse(0))
}
