package graft.tools

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.{DedupFunctions, Retrieval, Similarity}
import graft.operators.ConnectedComponents
import graft.pit.AsOfJoin

/** 10× scale probe for the five flagship operators (VERDICT r7 task #5):
  * as-of join, MinHash-LSH near-dup, connected components, IVF-PQ probe,
  * BM25 — each measured at sf0.1 and at a synthetic 10× of it, recording
  * wall time plus the executor-truth shuffle-write/read and input bytes
  * from task metrics. The sf0.1 bench sits on Spark's per-query overhead
  * floor; these byte counters are what make the 100 TB scale claims
  * measurable: the pruned paths (TTL-pruned as-of, IVF-PQ partition-pruned
  * probe, term-filtered BM25) must show shuffle bytes growing far slower
  * than input bytes.
  *
  * The 10× corpus is DISJOINT replication — ids remapped per copy, every
  * text token suffixed with the copy tag (so shingle/signature spaces do
  * not collide across copies), per-copy source values — i.e. "ten more
  * shards of similar data", the honest scaling shape; merged dup groups
  * would instead grow quadratic pair work that says nothing about the
  * operators' shuffle geometry.
  *
  * Usage: tools/run.sh graft.tools.ScaleSweep [sfDir] → SCALEPROBE_r09.json (override via GRAFT_PROBE_OUT)
  */
object ScaleSweep {

  /** The q95/q123 quality gate over `docs`' `text`: tokens and the keep
    * bit are projected below a lazy `localCheckpoint` barrier and the
    * filter reads the stored bit, so `GramStatsExpr` runs once per row. A
    * Filter condition gets no common-subexpression elimination (each of
    * `qualityKeep`'s four reads calls the kernel), and without the barrier
    * predicate pushdown substitutes a projected bit back into the Filter.
    */
  private[graft] def publishGate(docs: DataFrame): DataFrame =
    keepBit(docs).localCheckpoint(false)
      .filter(size(col("__t")) > 0 && col("__keep"))
      .drop("__t", "__keep")

  /** `docs` with its `text` tokens (`__t`) and quality keep bit (`__keep`)
    * in one projection: the part of [[publishGate]] below the barrier.
    */
  private[graft] def keepBit(docs: DataFrame): DataFrame = {
    val toks = filter(split(lower(col("text")), "\\s+"), x => length(x) > 0)
    docs.withColumn("__t", toks)
      .withColumn("__keep", graft.functions.TextFunctions.qualityKeep(col("__t")))
  }
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val shufW = new AtomicLong(0); val shufR = new AtomicLong(0)
    val inBytes = new AtomicLong(0)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        val m = t.taskMetrics
        if (m != null) {
          shufW.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          shufR.addAndGet(m.shuffleReadMetrics.totalBytesRead)
          inBytes.addAndGet(m.inputMetrics.bytesRead)
        }
      }
    })

    // ---- corpora -----------------------------------------------------
    def copies(df: DataFrame, build: (DataFrame, Int) => DataFrame, n: Int): DataFrame =
      (0 until n).map(k => build(df, k)).reduce(_ unionByName _)

    def docsAt(scale: Int): DataFrame = {
      val d = Tables.documents(spark, sfDir)
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"), col("text"))
      if (scale == 1) d
      else copies(d, (df, k) => df.select(
        (col("doc_id") + lit(k * 10000000L)).as("doc_id"), col("lang"),
        concat(col("source"), lit(s"_c$k")).as("source"), col("n_chars"),
        array_join(transform(split(col("text"), "\\s+"), w => concat(w, lit(s"_c$k"))), " ")
          .as("text")), scale)
    }
    def eventsAt(scale: Int): DataFrame = {
      val e = Tables.events(spark, sfDir)
        .select(col("event_id"), col("user_id"), col("event_type"), col("ts"), col("value"))
      if (scale == 1) e
      else copies(e, (df, k) => df.select(
        (col("event_id") + lit(k * 100000000L)).as("event_id"),
        (col("user_id") + lit(k * 10000000L)).as("user_id"),
        col("event_type"), col("ts"), col("value")), scale)
    }
    def embAt(scale: Int): DataFrame = {
      val v = Tables.embeddings(spark, sfDir).select(col("vec_id"), col("embedding"))
      if (scale == 1) v
      else copies(v, (df, k) => df.select(
        (col("vec_id") + lit(k * 10000000L)).as("vec_id"), col("embedding")), scale)
    }

    // ---- contention probes (ported from Bench, VERDICT r13 #2) --------
    // The r13 artifact shipped three cells (publish/shard_write/
    // langid_score at 10×) inflated 4-34× by a transient contention
    // window with zero plan change — the bench brackets every attempt
    // with probes and retries, ScaleSweep did not, and the scale
    // artifact must be as trustworthy as the bench. Same two probe
    // families: a fixed single-thread xorshift spin (CPU-frequency
    // throttling) and a fixed small parquet scan→shuffle-agg Spark job
    // (I/O / scheduler / GC contention the spin cannot see).
    val SpinIters = 30000000L
    def spinOnce(): Double = {
      val t0 = System.nanoTime()
      var x = 0x9E3779B97F4A7C15L
      var i = 0L
      while (i < SpinIters) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
      if (x == 42L) System.err.println("calibration fixed point")
      (System.nanoTime() - t0) / 1e9
    }
    spinOnce(); spinOnce()
    var calNominal = (1 to 5).map(_ => spinOnce()).min
    def spinProbe(): Double = { val c = spinOnce(); if (c < calNominal) calNominal = c; c }
    val probeDir = Files.createTempDirectory("graft_scale_probe_").resolve("t.parquet").toString
    spark.range(300000).selectExpr("id", "id % 997 as k", "id * 31 % 1001 as v")
      .repartition(8).write.mode("overwrite").parquet(probeDir)
    def sparkProbeOnce(): Double = {
      val t0 = System.nanoTime()
      spark.read.parquet(probeDir).where("v % 7 != 0")
        .groupBy("k").agg(sum("v")).count()
      (System.nanoTime() - t0) / 1e9
    }
    sparkProbeOnce(); sparkProbeOnce()
    var sparkNominal = (1 to 3).map(_ => sparkProbeOnce()).min
    def sparkProbe(): Double = {
      val c = sparkProbeOnce(); if (c < sparkNominal) sparkNominal = c; c
    }
    def isClean(spin: Double, sp: Double): Boolean =
      spin <= 2.0 * calNominal && sp <= 3.0 * sparkNominal

    // ---- measurement -------------------------------------------------
    def r2(d: Double): Double = math.rint(d * 1e2) / 1e2
    def r3(d: Double): Double = math.rint(d * 1e3) / 1e3
    var results = List.empty[String]
    var contended = List.empty[String]
    // execute the EXACT physical plan (all columns): a bare .count() lets
    // Catalyst prune unused projections — for the as-of join that deletes
    // the window (and its shuffle) entirely and measures nothing
    def runAll(df: DataFrame): Long = df.queryExecution.toRdd.count()
    // Every attempt is bracketed by both probe families; an attempt is
    // clean iff max(before, after) of each family sits within bounds of
    // its run-best (the Bench thresholds: spin 2×, spark probe 3×). Up to
    // `maxAttempts` tries for one clean cell; the recorded cell is the
    // min-wall clean attempt, or min-wall overall flagged "contended" —
    // so a poisoned window is visible in the artifact, never silent.
    // Byte counters are deterministic per plan, so they come from the
    // recorded attempt. NOTE for ops with consumable destinations
    // (publish_incremental): f may run up to 1 warm-up + maxAttempts
    // times — provision destinations accordingly.
    val maxAttempts = 3
    def measure(op: String, scale: Int)(f: => Long): Unit = {
      f // warm-up run: JIT + codegen + page cache, excluded from metrics
      Thread.sleep(1200) // drain warm-up listener events BEFORE the reset,
      System.gc()        // or async stragglers land in the measured counters
      // (wall, rows, shufW, shufR, in, worstSpin, worstSpark)
      var attempts = List.empty[(Double, Long, Long, Long, Long, Double, Double)]
      var n = 0
      while (n < maxAttempts && !attempts.exists(a => isClean(a._6, a._7))) {
        val spinBefore = spinProbe()
        val spBefore = sparkProbe()
        Thread.sleep(400); System.gc() // drain the probe's own events
        shufW.set(0); shufR.set(0); inBytes.set(0)
        val t0 = System.nanoTime()
        val rows = f
        val wall = (System.nanoTime() - t0) / 1e9
        Thread.sleep(1200) // listener events drain asynchronously
        val (w, r, i) = (shufW.get, shufR.get, inBytes.get)
        val spinAfter = spinProbe()
        val spAfter = sparkProbe()
        attempts ::= ((wall, rows, w, r, i,
          math.max(spinBefore, spinAfter), math.max(spBefore, spAfter)))
        n += 1
      }
      // re-judge against the final (possibly improved) nominals
      val clean = attempts.filter(a => isClean(a._6, a._7))
      val pool = if (clean.nonEmpty) clean else attempts
      val a = pool.minBy(_._1)
      val isContended = clean.isEmpty
      if (isContended) contended ::= s"$op@${scale}x"
      val j = s"""{"op":"$op","scale":$scale,"wall_sec":${r2(a._1)},"rows":${a._2},""" +
        s""""shuffle_write":${a._3},"shuffle_read":${a._4},"input_read":${a._5},""" +
        s""""cal_spin":${r3(a._6)},"cal_spark":${r3(a._7)},"attempts":$n,"contended":$isContended}"""
      println(j)
      results ::= j
    }

    for (scale <- Seq(1, 10)) {
      val docs = docsAt(scale).localCheckpoint(true) // corpus build cost excluded
      val events = eventsAt(scale).localCheckpoint(true)
      val emb = embAt(scale).localCheckpoint(true)

      // 1. as-of join (union-window) over the full spine, and the
      //    TTL-pruned variant on the training shape it exists for (spine =
      //    recent labels, history = long tail): its shuffle must stay far
      //    below the full join's as input grows
      val spine = events.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val views = events.filter(col("event_type") === "view")
        .groupBy(col("user_id"), col("ts")).agg(max(col("value")).as("f_v"))
      measure("asof_union_window", scale) {
        runAll(AsOfJoin.joinAsOf(spine, views, Seq("user_id"), "ts", "ts", Seq("f_v")))
      }
      val tsMax = events.agg(max(col("ts"))).head.getTimestamp(0)
      val spineRecent = spine.filter(
        col("ts") >= lit(new java.sql.Timestamp(tsMax.getTime - 3600000L)))
      measure("asof_recent_ttl_pruned", scale) {
        runAll(AsOfJoin.joinAsOf(spineRecent, views, Seq("user_id"), "ts", "ts", Seq("f_v"),
          maxStaleness = Some("1 hour")))
      }

      // 2. MinHash-LSH near-dup: banding shuffles (band, hash, id) triples,
      //    never text payloads
      measure("minhash_lsh", scale) {
        runAll(DedupFunctions.nearDupMinHash(docs, "doc_id", "text", threshold = 0.8))
      }

      // 3. connected components over the q76 near-dup pair graph
      val pairs = DedupFunctions.nearDupNgramJaccard(
        docs.withColumn("len_bucket", floor(col("n_chars") / 100)),
        "doc_id", "text", blockCols = Seq("lang", "source", "len_bucket"),
        threshold = 0.06, n = 2)
      measure("connected_components", scale) {
        runAll(ConnectedComponents.labelComponents(docs, "doc_id", pairs, "id_a", "id_b"))
      }

      // 4. IVF-PQ probe against a persisted index (build excluded: it is
      //    the once-per-index cost) — the partition-pruned scan path
      val idxDir = Files.createTempDirectory(s"graft_scale_ivfpq_$scale").resolve("idx").toString
      Similarity.ivfPqIndexWrite(emb, "vec_id", "embedding", idxDir, nlist = 16)
      val queries = Tables.embeddings(spark, sfDir).filter(col("vec_id") < 10)
      measure("ivfpq_probe", scale) {
        runAll(Similarity.ivfPqTopK(queries, "vec_id", "embedding", idxDir, k = 5, nprobe = 4))
      }

      // 5. BM25 top-10: the query-term filter pushes below the df window,
      //    so scoring shuffles 3 posting lists while the tokenize pass
      //    reads the whole corpus — shuffle must stay flat as input grows
      val terms = if (scale == 1) Seq("hash", "join", "scan")
                  else Seq("hash_c0", "join_c0", "scan_c0")
      measure("bm25_top10", scale) {
        runAll(Retrieval.bm25TopK(docs, "doc_id", "text", terms, k = 10))
      }

      // 6. LM-perplexity scoring against a landed bigram model (train
      //    excluded: once-per-model cost) — the by-gram co-partitioned
      //    join; shuffle grows with the document bigram volume, never
      //    with the model's driver/broadcast footprint (there is none)
      val lmDir = Files.createTempDirectory(s"graft_scale_lm_$scale").resolve("lm").toString
      graft.functions.NgramLm.train(docs.filter(col("doc_id") % 2 === 0), "text")
        .write.mode("overwrite").parquet(lmDir)
      val lmLanded = spark.read.parquet(lmDir)
      measure("lm_perplexity_score", scale) {
        runAll(graft.functions.NgramLm.scoreDocs(
          docs.filter(col("doc_id") % 2 === 1), "doc_id", "text", lmLanded, 3.43))
      }

      // 7. exact duplicate-span dedup: the dominant (gram) shuffle carries
      //    8-byte hashes + (id, pos) per token position — bytes must grow
      //    ~linearly with corpus tokens under disjoint copies (a
      //    super-linear trend would mean cross-copy pair work leaked in)
      measure("substr_dedup", scale) {
        runAll(DedupFunctions.exactSubstrDedup(docs, "doc_id", "text", minSpan = 8))
      }

      // 8. purged K-fold split: map-only broadcast cross-join + partial-agg
      //    rollup — shuffle bytes are count partials only (bounded by
      //    partitions x cells, orders of magnitude under input; data rows
      //    must never reach the exchange)
      measure("purged_split", scale) {
        runAll(graft.operators.TemporalSplit
          .assignPurgedFolds(events, "ts", nFolds = 5, embargoMicros = 3600000000L)
          .groupBy(col("fold"), col("role"))
          .agg(count(lit(1)).as("n_rows")))
      }

      // 9. sliding-window chunking: in-row window construction + posexplode
      //    — the plan has NO exchange at all, so shuffle bytes must be zero
      //    at every scale while rows amplify by the overlap factor
      measure("chunking", scale) {
        runAll(graft.functions.TextFunctions
          .chunkDocs(docs, "doc_id", "text", chunkTokens = 64, overlapTokens = 16))
      }

      // 10. A-Res weighted sample: TakeOrderedAndProject — per-task size-k
      //     heaps merged on the driver, NO exchange; shuffle bytes must be
      //     zero at every scale while input reads grow with the corpus
      measure("weighted_sample", scale) {
        runAll(graft.functions.Sampling.weightedSample(
          docs, "doc_id", graft.functions.TextFunctions.tokenCount(col("text")), 1000))
      }

      // 11. DSIR scoring: data-scale work is the token explode feeding two
      //     map-side-combined bucket counts (partials bounded by
      //     partitions × B) + one per-doc sum agg — shuffle must track the
      //     DOC count (compact (id, partial) rows), far below token volume
      measure("dsir_scores", scale) {
        runAll(graft.functions.ImportanceSampling.dsirScores(
          docs, "doc_id", "text", isTarget = col("lang") === "en", buckets = 1024))
      }

      // 12. int8 SQ top-k: broadcast quantized queries fan across the
      //     corpus; only the per-dim scale partials and the WindowGroupLimit
      //     survivors reach an exchange — shuffle stays model-scale flat
      measure("sq_topk", scale) {
        runAll(Similarity.scalarQuantizedTopK(
          Tables.embeddings(spark, sfDir).filter(col("vec_id") < 10), "vec_id",
          emb, "vec_id", "embedding", k = 5))
      }

      // 13. edit-distance fuzzy near-dup: the self-join shuffles one
      //     64-char prefix per row on the block key; disjoint copies keep
      //     per-block sizes constant, so pair work and shuffle bytes must
      //     grow ~linearly (quadratic growth = blocking leaked). Copies
      //     keep the ORIGINAL text here (cross-copy pairs are already
      //     blocked by the per-copy source value) — the token-suffix
      //     variant used by the shingle ops would shrink prefix distances
      //     within a copy and inflate the matched-pair count artificially.
      val plainDocs =
        if (scale == 1) docs
        else copies(Tables.documents(spark, sfDir)
          .select(col("doc_id"), col("lang"), col("source"), col("n_chars"), col("text")),
          (df, k) => df.select(
            (col("doc_id") + lit(k * 10000000L)).as("doc_id"), col("lang"),
            concat(col("source"), lit(s"_c$k")).as("source"), col("n_chars"),
            col("text")), scale).localCheckpoint(true)
      measure("fuzzy_editdist", scale) {
        runAll(DedupFunctions.nearDupEditDistance(
          plainDocs.withColumn("len_bucket", floor(col("n_chars") / 40)),
          "doc_id", "text", blockCols = Seq("lang", "source", "len_bucket"),
          prefixLen = 64, maxDist = 30))
      }

      // 14. quality-classifier scoring: the frozen B+1-integer model rides
      //     as a literal map (no weights relation, no join) — the pass is
      //     pure scan→map with ZERO shuffle (plan-pinned join-free and
      //     exchange-free; the measurement records 0 shuffle bytes);
      //     training is excluded (bounded driver sample, not a scale
      //     path — the corpus-scale part of a quality gate is scoring)
      val clfModel = graft.functions.QualityClassifier.PerceptronModel(
        64, Array.fill(64)(1L), -59L, Array.fill(64)(1L), -59L, 0L)
      measure("classifier_score", scale) {
        runAll(graft.functions.QualityClassifier.scorePerceptron(
          docs, "doc_id", "text", lit(true), clfModel))
      }

      // 15. WARC parse → main-text extraction → token gate (the q110
      //     crawl front door): fixture landing is excluded (once-per-crawl
      //     cost); the measured pass is binaryFiles + streaming record
      //     framing + block scoring — pure scan→flatMap→map, expected
      //     shuffle 0 B at every scale, input tracking the corpus
      val warcDir = Files.createTempDirectory(s"graft_scale_warc_$scale").toString
      docs.select(col("doc_id"), col("text"))
        .repartition(32)
        .foreachPartition { it: Iterator[org.apache.spark.sql.Row] =>
          val recs = it.map { r =>
            val (id, text) = (r.getLong(0), r.getString(1))
            val html = s"<html><body><div><a href='/'>Home</a> <a href='/a'>About</a></div>" +
              s"<p>$text</p><footer><a href='/t'>Terms</a></footer></body></html>"
            graft.sources.WarcCodec.WarcRecord(
              "response", s"http://crawl.example.org/doc/$id", "2026-01-01T00:00:00Z",
              "application/http; msgtype=response",
              graft.sources.WarcCodec.httpResponsePayload(200, "OK", "text/html",
                html.getBytes(StandardCharsets.UTF_8)))
          }.toSeq
          if (recs.nonEmpty) {
            Files.write(
              Paths.get(warcDir,
                f"part-${org.apache.spark.TaskContext.getPartitionId()}%05d.warc.gz"),
              graft.sources.WarcCodec.encodeGzip(recs))
            ()
          }
        }
      measure("warc_extract", scale) {
        val main = graft.functions.TextFunctions.extractMainText(
          expr("decode(body, 'UTF-8')"))
        runAll(graft.sources.WarcIO.read(spark, warcDir + "/*.warc.gz", minPartitions = 32)
          .filter(col("warc_type") === "response")
          .select(col("url"),
            (graft.functions.TextFunctions.tokenCount(main) >= 60).as("keep")))
      }

      // 16. URL front-door filter: regex parse map-side + broadcast LEFT
      //     ANTI blocklist — shuffle 0 B by construction (the blocklist
      //     rides the broadcast, never an exchange)
      val urls = docs.select(col("doc_id"),
        concat(lit("https://h"), col("doc_id") % 1000, lit(".example"),
          col("doc_id") % 7, lit(".com/p/"), col("doc_id")).as("url"))
      measure("url_filter", scale) {
        runAll(graft.functions.UrlFunctions.filterUrls(
          urls, "url", Seq("example0.com", "example1.com")))
      }

      // 17. robots verdict over the URL corpus: 1000-host synthetic rules
      //     relation (compiled once, broadcast) + per-URL match/max —
      //     shuffle carries only the (id, url, host) verdict grouping,
      //     never rule or page payloads
      val robotsBodies = spark.range(1000).select(
        concat(lit("h"), col("id"), lit(".example"), col("id") % 7, lit(".com")).as("host"),
        concat(lit("User-agent: *\nDisallow: /p/"), col("id") % 10,
          lit("\nAllow: /p/"), col("id") % 10, lit("0")).as("body"))
      val robotRules = graft.functions.RobotsFunctions.parseRules(
        robotsBodies, "host", "body", "graftbot").localCheckpoint(true)
      measure("robots_verdict", scale) {
        runAll(graft.functions.RobotsFunctions.isAllowed(
          urls, "doc_id", "url", robotRules))
      }

      // 18. boilerplate line dedup: the one crawl-plane op with a
      //     corpus-scale shuffle by design — per-line distinct-doc counts
      //     + the co-partitioned flag join; shuffle tracks line volume
      val pages = docs.select(col("doc_id"),
        concat(lit("Subscribe to our newsletter today\n"), col("text"),
          lit("\nCopyright "), col("source"), lit(" all rights reserved")).as("page"))
      measure("line_dedup", scale) {
        runAll(graft.functions.DedupFunctions.dedupBoilerplateLines(
          pages, "doc_id", "page", minDupDocs = 10))
      }

      // 19. temperature mix on a dominant-domain corpus (50% hot — the
      //     shape α-sampling exists to tame): the literal maxQuota
      //     pre-trim (WindowGroupLimit, the round-10 fix) bounds what any
      //     task sorts for the hot domain; shuffle carries only compact
      //     (id, domain) draw candidates, never text
      val skewed = docs.select(col("doc_id"),
        when(col("doc_id") % 2 === 0, lit("dom_hot"))
          .otherwise(concat(lit("dom"), col("doc_id") % 10)).as("domain"))
      measure("temperature_mix", scale) {
        runAll(graft.functions.Sampling.temperatureMix(
          skewed, "doc_id", "domain", alpha = 0.5, budget = 2000L))
      }

      // 20. shard export: the ONE bucket-hash exchange carries compact
      //     (id, n_tokens, bucket) rows — text never shuffles (tokenCount
      //     is computed scan-side), so shuffle bytes track doc COUNT at
      //     ~tens of bytes/doc while input bytes track payload
      measure("shard_export", scale) {
        runAll(graft.functions.ShardExport.shardManifest(
          graft.functions.ShardExport.shardAssign(
            docs, "doc_id", "text", buckets = 8, budgetTokens = 1000L),
          "doc_id"))
      }

      // 21. epoch order head: the WindowGroupLimit partial pre-trim means
      //     cross-task traffic is at most ceil(k/B) rows per bucket per
      //     MAP PARTITION — bounded by partition count, independent of
      //     row count (measured: ~46 KB at 10×, tracking the 10× input
      //     partition fan, not the 10× rows)
      measure("epoch_order", scale) {
        runAll(graft.functions.ShardExport.epochOrder(
          docs, "doc_id", epochSeed = "e1", buckets = 8, k = 100))
      }

      // 22. contrastive negative mining (q124): the anchor set is
      //     broadcast-by-construction (constant 40 rows at every scale)
      //     and the per-anchor literal-k WindowGroupLimit pre-trims
      //     map-side, so cross-task traffic is bounded by
      //     anchors × k × map partitions — the corpus side streams
      //     map-only; shuffle must stay ~flat while input grows 10×
      measure("negative_sample", scale) {
        // anchors held CONSTANT across scales (only copy 0 has ids < 40):
        // the q124 shape is a fixed probe set against a growing corpus,
        // so the broadcast side must stay 40 rows while the corpus 10×es
        val anchors = docs.filter(col("doc_id") < 40L)
          .select(col("doc_id"), col("source"))
        runAll(graft.functions.Sampling.negativeSample(
          anchors, "doc_id", "source",
          docs.select(col("doc_id"), col("source")), "doc_id", "source", k = 5))
      }

      // 23. the q123 publish composition (gate → exact-dedup canon →
      //     shard manifest): gate is scan-side, the dedup group-by is the
      //     ONE text-payload shuffle, packing adds its compact
      //     (id, n_tokens) bucket exchange — plan-guarded at two
      //     exchanges, so shuffle must track text volume ~linearly and
      //     never blow past it (a third corpus-scale exchange = the
      //     composition regressed)
      measure("publish", scale) {
        val canon = publishGate(docs).groupBy(col("text")).agg(min(col("doc_id")).as("doc_id"))
        runAll(graft.functions.ShardExport.shardManifest(
          graft.functions.ShardExport.shardAssign(canon, "doc_id", "text", 8, 1000L),
          "doc_id"))
      }

      // 24. trained language-ID scoring (q126): the C literal weight maps
      //     ride the closure, prediction is pure scan→map (plan-pinned
      //     join- and exchange-free in LangIdSpec) — shuffle must be 0 B
      //     at every scale; training is excluded (bounded driver sample,
      //     same rationale as classifier_score)
      val lidModel = graft.functions.LangId.LangIdModel(
        64, 96, Seq("de", "en", "es", "fr", "zh"),
        Array.fill(5)(Array.tabulate(64)(b => (b % 7 - 3).toLong)),
        Array(1L, 2L, -1L, 0L, -2L), 0L)
      measure("langid_score", scale) {
        runAll(graft.functions.LangId.predict(docs, "doc_id", "text", lidModel))
      }

      // 25. PHYSICAL shard write (q125): unlike the manifest-only
      //     shard_export cell, materialization must move each shard's
      //     TEXT to its writer task — the export's one inherent
      //     text-payload exchange — so shuffle tracks text volume
      //     ~linearly while wall stays sub-linear (writers parallelize
      //     with the shard count); budget scales with the corpus so the
      //     cell measures the writer, not per-file open/close overhead
      measure("shard_write", scale) {
        val root = Files.createTempDirectory(s"graft_scale_shardw_$scale").toString
        graft.functions.ShardExport.writeShards(
          docs, "doc_id", "text", buckets = 8,
          budgetTokens = 4000L * scale, exportRoot = root).count()
      }

      // 26. Kneser–Ney scoring against the same landed model as cell 6:
      //     one extra gram-keyed join (continuation counts by w2) over the
      //     add-one path — shuffle must track bigram volume with the same
      //     slope, never the model size (the (T,V) attach is a 1-row
      //     broadcast)
      measure("kn_score", scale) {
        runAll(graft.functions.NgramLm.scoreDocsKN(
          docs.filter(col("doc_id") % 2 === 1), "doc_id", "text", lmLanded, 3.45))
      }

      // 27. DoReMi excess pass (q135's data-scale part): ONE bigram
      //     explode feeding both proxy and reference models (fused dual
      //     scoring), then the (domain, batch) excess aggregation — a
      //     D×B-cell partial agg. Shuffle tracks bigram volume; the
      //     weight fold itself is driver-side over D×B integers and is
      //     excluded, like every trained-model build in this sweep
      val dlmDir = Files.createTempDirectory(s"graft_scale_doremi_$scale").toString
      graft.functions.NgramLm.train(docs.filter(col("doc_id") % 20 === 0), "text")
        .coalesce(1).write.mode("overwrite").parquet(dlmDir + "/p")
      graft.functions.NgramLm.train(docs.filter(col("doc_id") % 4 === 0), "text")
        .coalesce(1).write.mode("overwrite").parquet(dlmDir + "/r")
      measure("doremi_excess", scale) {
        val scored = graft.functions.NgramLm.scoreDocsDual(
          docs, "doc_id", "text",
          spark.read.parquet(dlmDir + "/p"), spark.read.parquet(dlmDir + "/r"))
        val eqc = greatest(
          (floor(col("log_ppl_a") * 1e4 + 0.5) - floor(col("log_ppl_b") * 1e4 + 0.5))
            .cast("long"), lit(0L))
        runAll(scored.join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
          .select(col("source"),
            pmod(xxhash64(col("doc_id").cast("string")), lit(8L)).as("t"),
            eqc.as("eq"))
          .groupBy(col("source"), col("t"))
          .agg(count(lit(1)).as("n"), sum(col("eq")).as("sq")))
      }

      // 28. UniMax waterfilling: one map-side-combined language census
      //     (partials bounded by partitions × langs) + single-partition
      //     windows over the LANGUAGE table — shuffle must stay flat
      //     (model-scale) while input grows 10×
      measure("unimax_alloc", scale) {
        runAll(graft.functions.Sampling.unimaxAllocationFrac(
          docs, "lang", "text", budgetNum = 3L, budgetDen = 2L, maxEpochs = 2L))
      }

      // 29. Delta-import read path: _delta_log replay is driver metadata
      //     (bounded by file count), the data path is ONE parquet scan of
      //     the active files — zero shuffle at every scale, input tracking
      //     the exported bytes. Export (once-per-snapshot) is excluded.
      val dexpDir = Files.createTempDirectory(s"graft_scale_delta_$scale").toString
      val dtab = dexpDir + "/t"
      graft.storage.VersionedTable.append(dtab)(d =>
        docs.select(col("doc_id"), col("lang"), col("text")).write.parquet(d))
      graft.storage.DeltaInterop.exportSnapshot(spark, dtab, dexpDir + "/delta")
      measure("delta_import", scale) {
        // aggregate a payload column so the scan reads data pages, not
        // just footers — a bare count() would column-prune to metadata
        runAll(graft.storage.DeltaInterop.importSnapshot(spark, dexpDir + "/delta")
          .select(sum(length(col("text"))).as("chars")))
      }

      //     checkpointed Delta import (the q139 shape): base state loads
      //     from ONE parquet checkpoint scan instead of JSON replay; wall
      //     and bytes must track delta_import (linear data, flat overhead)
      graft.storage.DeltaInterop.writeCheckpoint(spark, dexpDir + "/delta", 0L)
      measure("delta_import_checkpoint", scale) {
        runAll(graft.storage.DeltaInterop.importSnapshot(spark, dexpDir + "/delta")
          .select(sum(length(col("text"))).as("chars")))
      }

      //     Iceberg import (q142): the spec resolution chain (metadata →
      //     avro manifest list → manifest → size-gated files) + one scan;
      //     linear data bytes, manifest overhead flat
      val iexpDir = Files.createTempDirectory(s"graft_scale_ice_$scale").toString
      graft.storage.VersionedTable.append(iexpDir + "/t")(d =>
        docs.select(col("doc_id"), col("lang"), col("text")).write.parquet(d))
      graft.storage.IcebergInterop.exportSnapshot(spark, iexpDir + "/t", iexpDir + "/ice")
      measure("iceberg_import", scale) {
        runAll(graft.storage.IcebergInterop.importSnapshot(spark, iexpDir + "/ice")
          .select(sum(length(col("text"))).as("chars")))
      }

      //     epoch-stream head read (q128's physical path): the first shard
      //     of the epoch order via readEpochHead's static partition
      //     pruning — input bytes must stay ~one shard as the corpus
      //     grows 10x (the resume/preview contract)
      val headExp = Files.createTempDirectory(s"graft_scale_head_$scale").toString
      graft.functions.ShardExport.writeShards(docs, "doc_id", "text", 8, 4000L, headExp)
      measure("epoch_stream_head", scale) {
        runAll(graft.functions.ShardExport.readEpochHead(
          spark, headExp, "doc_id", "text", "e1", nShards = 1))
      }

      //     WAT host link graph (q148): host extraction + distinct edge
      //     relation + min-label connected components — edges are
      //     host-level (60 crawl hosts per copy tag at any doc scale), so
      //     the CC label table stays model-scale while the page scan
      //     grows linearly; shuffle must track the DISTINCT edge set, not
      //     the page count
      measure("wat_link_graph", scale) {
        val withH = docs.select(col("doc_id"),
          pmod(xxhash64(col("doc_id")), lit(60L * scale)).as("h"))
        val pages = withH.select(concat(lit("h"), col("h")).as("host"))
        val edges0 = withH
          .select(concat(lit("h"), col("h")).as("src"),
            concat(lit("h"), col("h") - pmod(col("h"), lit(4L))).as("dst"))
          .filter(col("src") =!= col("dst")).distinct()
        val hosts = pages.unionByName(edges0.select(col("dst").as("host")))
          .distinct().withColumn("hid", xxhash64(col("host")))
        val edges = edges0
          .join(hosts.select(col("host").as("src"), col("hid").as("src_id")), Seq("src"))
          .join(hosts.select(col("host").as("dst"), col("hid").as("dst_id")), Seq("dst"))
          .select(col("src_id"), col("dst_id"))
        runAll(ConnectedComponents.labelComponents(
          hosts.select(col("hid")), "hid", edges, "src_id", "dst_id"))
      }

      //     exact-integer PageRank (q151) on the same host graph: per
      //     round one edge join + one groupBy(dst) — state is the rank
      //     table (|hosts| rows), so shuffle must track the HOST count
      //     (60·scale) while the page scan that derived the graph grew
      //     linearly; 2 rounds keep the integer bound at every scale
      measure("pagerank_prior", scale) {
        val hostsPr = docs.select(
          pmod(xxhash64(col("doc_id")), lit(60L * scale)).as("h")).distinct()
        val nodesPr = hostsPr.select(col("h").as("node"))
          .unionByName(hostsPr.select((col("h") + lit(1000000L)).as("node")))
        val edgesPr = hostsPr.filter(pmod(col("h"), lit(4L)) =!= 0)
          .select(col("h").as("src"), (col("h") - pmod(col("h"), lit(4L))).as("dst"))
          .unionByName(hostsPr.select(col("h").as("src"),
            (col("h") + lit(1000000L)).as("dst")))
        runAll(graft.operators.PageRank.pageRankExact(
          nodesPr, "node", edgesPr, "src", "dst", iters = 2, degLcm = 2L))
      }

      //     margin-based bitext mining (q129): fixed query side (~200
      //     vectors), target side grows 10x — the broadcast brute-force
      //     kNN in both directions must scale linearly in the target,
      //     with shuffle carrying only per-vector neighborhoods
      val bitextSrc = Tables.embeddings(spark, sfDir)
        .filter(col("vec_id") < 400 && col("vec_id") % 2 === 0)
      measure("bitext_margin", scale) {
        runAll(graft.functions.Similarity.bitextMine(
          bitextSrc, "vec_id",
          emb.filter(col("vec_id") % 2 === 1), "vec_id",
          "embedding", k = 4, threshold = 1.0))
      }

      //     incremental publish (q130) with a TRUE 1-shard edit: the
      //     changed doc is the LAST in its bucket's md5 packing order, so
      //     exactly one shard re-cuts — published bytes must stay ~one
      //     shard while the corpus grows 10x (O(changed), never O(corpus))
      val pubE1 = Files.createTempDirectory(s"graft_scale_pub1_$scale").toString
      val pubE2 = Files.createTempDirectory(s"graft_scale_pub2_$scale").toString
      graft.functions.ShardExport.writeShards(docs, "doc_id", "text", 8, 4000L, pubE1)
      val lastInBucket0 = graft.functions.ShardExport
        .shardAssign(docs, "doc_id", "text", 8, 4000L)
        .filter(col("bucket") === 0)
        .orderBy(md5(col("doc_id").cast("string")).desc, col("doc_id").desc)
        .limit(1).collect().head.getLong(0)
      val docsV2 = docs.withColumn("text",
        when(col("doc_id") === lastInBucket0, concat(col("text"), lit(" x")))
          .otherwise(col("text")))
      graft.functions.ShardExport.writeShards(docsV2, "doc_id", "text", 8, 4000L, pubE2)
      // full first publish is setup; warm-up and every measured ATTEMPT
      // each get a FRESH destination (the publish mutates its target — a
      // second run against the same dest would measure a no-op diff), so
      // provision 1 + maxAttempts
      val pubDests = Seq.fill(1 + maxAttempts)(
        Files.createTempDirectory(s"graft_scale_pubd_$scale").toString)
      pubDests.foreach(d =>
        graft.functions.ShardExport.publishIncremental(spark, pubE1, d, "doc_id", "text").count())
      val pubDestIter = pubDests.iterator
      measure("publish_incremental", scale) {
        graft.functions.ShardExport.publishIncremental(
          spark, pubE2, pubDestIter.next(), "doc_id", "text").count()
      }

      //     Delta DV import (q153): two delete waves (external .bin +
      //     inline) attach masks, the import applies them as a per-file
      //     anti-join on (_metadata.file_path, row_index) — input tracks
      //     the data bytes linearly while the mask relation carries only
      //     DELETED row ids, so shuffle must stay mask-scale
      val dvDir = Files.createTempDirectory(s"graft_scale_dv_$scale").toString
      graft.storage.VersionedTable.append(dvDir + "/t")(d =>
        docs.select(col("doc_id"), col("lang"), col("text")).write.parquet(d))
      graft.storage.DeltaInterop.exportSnapshot(spark, dvDir + "/t", dvDir + "/delta")
      graft.storage.DeltaInterop.deleteWhere(
        spark, dvDir + "/delta", 1L, col("doc_id") % 7 === 3)
      graft.storage.DeltaInterop.deleteWhere(
        spark, dvDir + "/delta", 2L, col("doc_id") % 11 === 5, inline = true)
      measure("delta_dv_import", scale) {
        runAll(graft.storage.DeltaInterop.importSnapshot(spark, dvDir + "/delta")
          .select(sum(length(col("text"))).as("chars")))
      }

      //     DV purge (q155, REORG APPLY (PURGE)): rewrite every DV'd file
      //     without its dead rows — one task per file, work O(DV'd bytes).
      //     The purge consumes its table (re-running would be a no-op
      //     0-file commit), so provision 1 warm-up + maxAttempts copies,
      //     the publish_incremental pattern.
      val dvpDests = Seq.fill(1 + maxAttempts) {
        val d = Files.createTempDirectory(s"graft_scale_dvp_$scale").toString
        graft.storage.DeltaInterop.exportSnapshot(spark, dvDir + "/t", d + "/delta")
        graft.storage.DeltaInterop.deleteWhere(
          spark, d + "/delta", 1L, col("doc_id") % 7 === 3)
        d + "/delta"
      }
      val dvpIter = dvpDests.iterator
      measure("delta_dv_purge", scale) {
        graft.storage.DeltaInterop.purgeDeletionVectors(spark, dvpIter.next(), 2L).toLong
      }

      //     group-aware split (q154's assignment stage): md5-bucket on the
      //     component id is MAP-SIDE only — shuffle carries just the
      //     3-row split census while the label scan grows 10×
      measure("group_split", scale) {
        val labels = docs.select(col("doc_id"),
          (col("doc_id") - pmod(col("doc_id"), lit(3L))).as("component_id"))
        runAll(graft.functions.Sampling.groupSplit(labels, "component_id")
          .groupBy(col("split")).agg(count(lit(1)).as("n")))
      }

      //     MMR diversified top-k (q156): fixed 6-query side, candidates
      //     grow 10× — stage 1 is the broadcast brute-force scan (linear
      //     input, per-task heaps), everything after runs on the
      //     PARAMETER-BOUNDED m=24 shortlist, so shuffle must stay flat
      val mmrQ = Tables.embeddings(spark, sfDir).filter(col("vec_id") < 6)
      measure("mmr_topk", scale) {
        runAll(Similarity.mmrTopK(
          mmrQ, "vec_id", emb, "vec_id", "embedding",
          m = 24, k = 6, lambdaPermille = 700))
      }

      //     Avro OCF read (q157): streaming DataFileStream decode, one
      //     task per file — wall and bytes must track the OCF payload
      //     linearly (write is setup: one file per input partition)
      val avroDir = Files.createTempDirectory(s"graft_scale_avro_$scale").toString + "/ocf"
      graft.sources.AvroIO.writeAvro(
        docs.select(col("doc_id"), col("lang"), col("text")).repartition(8), avroDir)
      measure("avro_read", scale) {
        runAll(graft.sources.AvroIO.readAvro(spark, avroDir)
          .select(sum(length(col("text"))).as("chars")))
      }

      //     indexed BM25 (q159): the landed term-bucket index serves the
      //     query by reading ONLY the query terms' bucket directories —
      //     input bytes must track the query terms' postings (sub-linear
      //     in corpus; the corpus's 3 terms here hash to <=3 of 64
      //     buckets), vs bm25_top10's full inline scan above
      val bmIdxDir = Files.createTempDirectory(s"graft_scale_bmidx_$scale").toString + "/i"
      Retrieval.bm25IndexWrite(docs, "doc_id", "text", bmIdxDir, termBuckets = 64)
      measure("bm25_indexed", scale) {
        runAll(Retrieval.bm25IndexTopK(spark, bmIdxDir, terms, k = 10))
      }

      //     change data feed (q164): the key universe is pruned to the
      //     DELTA segments, so a FIXED-size wave (copy-0 users only)
      //     against a 10x table must keep shuffle at wave scale while the
      //     two snapshot scans grow linearly
      val cdfDir = Files.createTempDirectory(s"graft_scale_cdf_$scale").toString + "/t"
      val cdfCw: (DataFrame, String) => Unit = (df, d) => df.write.parquet(d)
      val cdfBase = events.groupBy(col("user_id")).agg(count(lit(1)).as("cnt"))
      graft.storage.VersionedTable.upsert(spark, cdfDir, Seq("user_id"),
        compactEvery = 100, compactWrite = cdfCw)(d => cdfBase.write.parquet(d))
      val cdfWave = cdfBase.filter(col("user_id") < 200)
        .withColumn("cnt", col("cnt") + 1)
      graft.storage.VersionedTable.upsert(spark, cdfDir, Seq("user_id"),
        compactEvery = 100, compactWrite = cdfCw)(d => cdfWave.write.parquet(d))
      measure("table_cdf", scale) {
        runAll(graft.storage.VersionedTable.readChanges(
          spark, cdfDir, Seq("user_id"), 1L, 2L))
      }

      //     token-stream packing (q158): ONE exchange on bucket carrying
      //     only (id, count) — shuffle must stay id-scale (never text),
      //     rows = docs + windows, wall linear
      measure("stream_pack", scale) {
        runAll(graft.functions.ShardExport.packTokenStream(
          docs, "doc_id", "text", buckets = 8, windowTokens = 128L))
      }

      // ---- round-14 second wave: event analytics / sketches / layout ---
      //     a props-carrying event corpus for the cells that need props.k;
      //     SEPARATE from `events` so the established cells' checkpoint
      //     size (and hence their byte counters) stay comparable across
      //     rounds. Copy id = user_id div 1e7 (0 at scale 1).
      val eventsP = {
        val e = Tables.events(spark, sfDir).select(
          col("event_id"), col("user_id"), col("event_type"), col("ts"),
          col("value"), col("props"))
        (if (scale == 1) e
         else copies(e, (df, k) => df.select(
           (col("event_id") + lit(k * 100000000L)).as("event_id"),
           (col("user_id") + lit(k * 10000000L)).as("user_id"),
           col("event_type"), col("ts"), col("value"), col("props")), scale))
          .localCheckpoint(true)
      }

      //     funnel (q168): K sequential groupBy(user_id) stages — shuffle
      //     carries one row per user per stage, so it must grow with
      //     USERS (10× here) while staying far below event volume
      measure("funnel", scale) {
        runAll(graft.functions.EventAnalytics.funnelCensus(
          graft.functions.EventAnalytics.funnel(eventsP,
            Seq("view", "click", "purchase"), windowUs = 24L * 3600 * 1000000), 3))
      }

      //     gap-fill (q170): events pre-aggregate to one row per
      //     (user, day) BEFORE the grid explode, so shuffle is user-day
      //     scale and the grid adds rows only at the span's day count
      measure("gapfill", scale) {
        runAll(graft.functions.EventAnalytics.gapFillDaily(eventsP)
          .groupBy(col("user_id")).agg(sum(col("cents")).as("s")))
      }

      //     triangle census (q171): degree-ordered orientation bounds the
      //     wedge join O(m^1.5); copies stay DISJOINT graphs (copy id in
      //     the co-occurrence bucket), so edges grow 10× — wall/shuffle
      //     must track edges, never users²
      measure("triangle_census", scale) {
        val act = eventsP.select(col("event_type"),
          date_trunc("hour", col("ts")).as("h"),
          get_json_object(col("props"), "$.k").cast("int").as("k"),
          (col("user_id") / lit(10000000L)).cast("long").as("cp"),
          col("user_id")).distinct()
        val b = act.select(col("event_type"), col("h"), col("k"), col("cp"),
          col("user_id").as("v"))
        val edges = act.join(b, Seq("event_type", "h", "k", "cp"))
          .filter(col("user_id") < col("v"))
          .select(col("user_id").as("u"), col("v"))
        runAll(graft.operators.TriangleCount.perNode(edges))
      }

      //     deterministic HLL (q172/q173): the flagship FLAT-shuffle cell —
      //     map-side max-combine reduces any input to ≤256 register rows,
      //     so shuffle bytes must be ~constant while input grows 10×
      measure("hll_sketch", scale) {
        runAll(graft.functions.SketchFunctions.hllEstimate(
          graft.functions.SketchFunctions.hllBuckets(
            eventsP.select(floor(col("value") * 1e6 + 0.5).cast("long").as("v6"),
              col("event_id")),
            col("v6") * lit(1000000L) + pmod(col("event_id"), lit(997L)), 8),
          8, 718273L))
      }

      //     KMV set ops (q174): WindowGroupLimit pre-trims each map task
      //     to its own top-k, so the exchange carries O(parts·k) rows —
      //     shuffle must stay ~flat while the distinct universe grows
      measure("kmv_mins", scale) {
        runAll(graft.functions.SketchFunctions.kmvMins(
          eventsP.select(col("event_type"),
            (col("event_id") * lit(1000L) + pmod(col("user_id"), lit(997L)))
              .as("u")),
          col("u"), k = 128, Seq("event_type")))
      }

      //     bucketed co-located join (q177): both sides pre-bucketed by
      //     user_id — the join itself plans with NO exchange, so its
      //     shuffle bytes must be ~zero at both scales (the census agg
      //     shuffles only |first_type| rows); table writes are setup
      val bktRoot = Files.createTempDirectory(s"graft_scale_bkt_$scale").toString
      graft.storage.BucketedLayout.writeBucketed(
        eventsP.groupBy(col("user_id")).agg(count(lit(1)).as("n_events"),
          sum(floor(col("value") * 1e6 + 0.5).cast("long")).as("sum_v6")),
        s"scale_bkt_feat_$scale", s"$bktRoot/feat", "user_id", buckets = 8)
      graft.storage.BucketedLayout.writeBucketed(
        eventsP.groupBy(col("user_id"))
          .agg(min(when(col("event_id") % 13 === 0, col("event_type")))
            .as("first_type")),
        s"scale_bkt_dim_$scale", s"$bktRoot/dim", "user_id", buckets = 8)
      measure("bucketed_join", scale) {
        runAll(graft.storage.BucketedLayout.colocatedJoin(
            spark, s"scale_bkt_feat_$scale", s"scale_bkt_dim_$scale", "user_id")
          .groupBy(col("first_type"))
          .agg(count(lit(1)).as("n_users"), sum(col("n_events")).as("n_events")))
      }

      //     collocations (q184): positions equi-join on (doc, i+d) —
      //     pair rows = tokens·window, so wall/shuffle must track token
      //     volume linearly, never per-doc tokens²
      measure("collocations", scale) {
        runAll(graft.functions.TextFunctions.collocations(
          docs, "doc_id", "text", window = 2, minCount = 5L, k = 20))
      }

      //     exact percentiles (q183): per-(key, value) count table + one
      //     window per key — shuffle bounded by the DISTINCT-VALUE domain
      //     (copies share values, so the table stays ~flat at 10×)
      measure("percentiles", scale) {
        runAll(graft.functions.FeatureEncoding.exactPercentiles(
          eventsP.select(col("event_type"),
            floor(col("value") * 1e6 + 0.5).cast("long").as("v6")),
          col("v6"), Seq("event_type"), Seq(500, 900, 990)))
      }

      //     count-min sketch (q181): ≤1024 cells after map-side combine —
      //     the second flat-shuffle sketch cell next to hll_sketch
      measure("cms_sketch", scale) {
        runAll(graft.functions.SketchFunctions.cmsSketch(
          eventsP.select(floor(col("value") * 1e6 + 0.5).cast("long")
            .cast("string").as("sv")), col("sv")))
      }

      // ---- round-15: event-analytics incremental maintenance ----------
      //     funnel maintenance (EventAnalyticsStream): seed the state from
      //     the full corpus (setup, excluded), then fold a FIXED 2k-event
      //     wave (copy-0 ids only — the table_cdf fixed-wave pattern).
      //     The cell's claim is the incremental contract: the fold reads
      //     wave + USER-scale state, never the event history — so input
      //     bytes must track the state table (users), not the 10× event
      //     corpus, and shuffle must track the wave's touch set. (At
      //     extreme user counts the state scan itself is the next
      //     bottleneck — bucket it with BucketedLayout to prune to
      //     touched buckets; this cell measures the events-history
      //     independence that matters first.)
      val easSteps = Seq("view", "click", "purchase")
      val easWin = 24L * 3600 * 1000000
      val easEv = eventsP.select(
        col("event_id"), col("user_id"), col("event_type"), col("ts"))
      val easState = Files.createTempDirectory(s"graft_scale_eas_$scale")
        .toString + "/funnel"
      graft.streaming.EventAnalyticsStream.funnelMaintain(
        spark, easState, easEv, easSteps, easWin, Some(0L))
      val easWave = easEv.filter(col("event_id") < 2000L).localCheckpoint(true)
      val easWaveRows = easWave.count()
      measure("funnel_maintain_wave", scale) {
        graft.streaming.EventAnalyticsStream.funnelMaintain(
          spark, easState, easWave, easSteps, easWin, None)
        easWaveRows
      }

      //     retention maintenance: the same fixed wave upserts only its
      //     own distinct (user, week) pairs — state touch is wave-scale
      //     by construction, input is the keyed state table (user-weeks)
      val easRet = Files.createTempDirectory(s"graft_scale_easr_$scale")
        .toString + "/retention"
      graft.streaming.EventAnalyticsStream.retentionMaintain(
        spark, easRet, easEv, Some(0L))
      measure("retention_maintain_wave", scale) {
        graft.streaming.EventAnalyticsStream.retentionMaintain(
          spark, easRet, easWave, None)
        easWaveRows
      }

      // ---- round-16: gap-fill maintenance (the third event-analytics
      //     maintainer, q205) — same fixed-wave contract: the fold reads
      //     wave + the TOUCHED (user, day) slice of the state grid, never
      //     the event history, so input bytes must stay state-scale while
      //     the batch recompute grows with the 10× corpus
      val easGapEv = eventsP.select(
        col("event_id"), col("user_id"), col("ts"), col("value"))
      val easGap = Files.createTempDirectory(s"graft_scale_easg_$scale")
        .toString + "/gapfill"
      graft.streaming.EventAnalyticsStream.gapFillMaintain(
        spark, easGap, easGapEv, Some(0L))
      val easGapWave = easGapEv.filter(col("event_id") < 2000L).localCheckpoint(true)
      measure("gapfill_maintain_wave", scale) {
        graft.streaming.EventAnalyticsStream.gapFillMaintain(
          spark, easGap, easGapWave, None)
        easWaveRows
      }
    }

    val json = s"""{"sf_base":"$sfDir","scales":[1,10],""" +
      s""""corpus":${graft.CorpusFingerprint.json(spark, sfDir)},""" +
      s""""note":"disjoint 10x replication; bytes from task metrics; """ +
      s"""every cell probe-bracketed (spin 2x / spark 3x of run-best), retried up to $maxAttempts",""" +
      s""""cal_spin_nominal":${r3(calNominal)},"cal_spark_nominal":${r3(sparkNominal)},""" +
      s""""contended_cells":[${contended.reverse.map(c => s""""$c"""").mkString(",")}],""" +
      s""""measurements":[${results.reverse.mkString(",")}]}"""
    Files.write(
      Paths.get(sys.env.getOrElse("GRAFT_PROBE_OUT", "/root/repo/SCALEPROBE_r09.json")),
      json.getBytes(StandardCharsets.UTF_8))
    println(json)
    spark.stop()
  }
}
