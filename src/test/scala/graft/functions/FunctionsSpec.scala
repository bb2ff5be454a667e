package graft.functions

import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}

class FunctionsSpec extends SparkSpec {
  import spark.implicits._

  test("contaminationNgramOverlap: exact distinct-gram counts, short docs skipped, broadcast plan") {
    val train = Seq(
      (1L, "alpha beta gamma delta"),        // shares "alpha beta gamma" + "beta gamma delta"
      (2L, "beta gamma delta epsilon"),      // shares "beta gamma delta"
      (3L, "zeta eta theta iota"),           // no overlap
      (4L, "one two"),                       // too short for a 3-gram
      (5L, "alpha beta gamma alpha beta gamma x") // repeated gram counts ONCE
    ).toDF("doc_id", "text")
    val eval_ = Seq((100L, "alpha beta gamma delta epsilon")).toDF("doc_id", "text")
    val out = DedupFunctions.contaminationNgramOverlap(train, "doc_id", "text", eval_, "text")
    val m = out.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m == Map(1L -> 2L, 2L -> 2L, 5L -> 1L), m.toString)
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"eval shingle set must broadcast:\n$plan")
  }

  test("redactPii: each PII class redacted, clean text untouched, no cross-class half-matches") {
    val df = Seq(
      ("mail me at jo.doe+x@sub.example.org today", 1L),
      ("ssn 123-45-6789 phone 555-010-1234 ip 192.168.0.1", 2L),
      ("no pii here, just words and 42 numbers", 3L),
      ("v1.2.3.4 is a version, 1.2.3.4 bare is the ip shape", 4L),
      ("", 5L)
    ).toDF("text", "id")
    val out = df.select($"id", TextFunctions.redactPii($"text").as("r"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == "mail me at [EMAIL] today")
    assert(out(2L) == "ssn [SSN] phone [PHONE] ip [IP]")
    assert(out(3L) == "no pii here, just words and 42 numbers")
    // \b keeps "v1.2.3.4" intact (no boundary inside v1) while a bare
    // 4-octet run matches the IPv4 shape — the precision/recall trade of
    // pattern-based scrubbing, pinned here
    assert(out(4L) == "v1.2.3.4 is a version, [IP] bare is the ip shape", out(4L))
    assert(out(5L) == "")
  }

  test("tokenCount / avgTokenLen / punctRatio on canonical strings") {
    val df = Seq(
      ("ab cd  ef", 1L),   // double space → still 3 tokens
      ("", 2L),
      ("one", 3L),
      ("a, b! c?", 4L)
    ).toDF("text", "id")
    val out = df.select($"id",
      TextFunctions.tokenCount($"text").as("n"),
      TextFunctions.punctRatio($"text").as("p")).collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getDouble(2))).toMap
    assert(out(1L)._1 == 3)
    assert(out(2L)._1 == 0)
    assert(out(3L)._1 == 1)
    assert(out(4L)._1 == 3 && math.abs(out(4L)._2 - 3.0 / 8.0) < 1e-12)
  }

  test("fingerprint is order-insensitive over the token multiset") {
    val df = Seq(("spark fast join", 1), ("join fast spark", 2), ("spark slow join", 3))
      .toDF("text", "id")
    val fps = df.select(TextFunctions.fingerprint($"text")).collect().map(_.getString(0))
    assert(fps(0) == fps(1) && fps(0) != fps(2))
  }

  test("minhash: identical docs collide on all bands; near-dups share most signature slots") {
    val t1 = "the quick brown fox jumps over the lazy dog again and again today"
    val t2 = "the quick brown fox jumps over the lazy dog again and again tomorrow"
    val df = Seq((1L, t1), (2L, t1), (3L, t2)).toDF("doc_id", "text")
    val pairs = DedupFunctions.nearDupMinHash(df, "doc_id", "text", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pairs.exists { case (a, b, j) => a == 1 && b == 2 && j == 1.0 })
  }

  test("simhash: identical docs → identical signature; hamming 0") {
    val df = Seq((1L, "spark window join"), (2L, "spark window join")).toDF("doc_id", "text")
    val sigs = df.select(DedupFunctions.simHash($"text")).collect().map(_.getLong(0))
    assert(sigs(0) == sigs(1))
  }

  test("jaccard of disjoint and identical sets") {
    val df = Seq((Seq(1L, 2L, 3L), Seq(1L, 2L, 3L)), (Seq(1L, 2L), Seq(3L, 4L)))
      .toDF("a", "b")
    val js = df.select(DedupFunctions.jaccard($"a", $"b")).collect().map(_.getDouble(0))
    assert(js(0) == 1.0 && js(1) == 0.0)
  }

  test("cosine: orthogonal=0, parallel=1") {
    val df = Seq(
      (Seq(1.0f, 0.0f), Seq(0.0f, 1.0f)),
      (Seq(1.0f, 2.0f), Seq(2.0f, 4.0f))).toDF("a", "b")
    val cs = df.select(Similarity.cosine($"a", $"b")).collect().map(_.getDouble(0))
    assert(math.abs(cs(0)) < 1e-12 && math.abs(cs(1) - 1.0) < 1e-12)
  }

  test("bruteForceTopK returns exactly k ranked neighbors per query") {
    val emb = Tables.embeddings(spark, sfDir)
    val out = Similarity.bruteForceTopK(
      emb.filter($"vec_id" < 3), "vec_id", emb, "vec_id", "embedding", k = 5)
    val byQ = out.collect().groupBy(_.getAs[Long]("query_id"))
    assert(byQ.size == 3 && byQ.values.forall(_.length == 5))
    byQ.values.foreach { rows =>
      val ranked = rows.sortBy(_.getAs[Long]("rank")).map(_.getAs[Double]("cosine"))
      assert(ranked.zip(ranked.tail).forall { case (x, y) => x >= y })
    }
  }

  test("bitextMine: planted translations mined; the hub vector is margin-suppressed") {
    // 8-dim space, deterministic pseudo-noise; src i and tgt 100+i are
    // planted near-duplicates (translations); tgt 999 is a HUB — close to
    // everything (the all-ones direction every vector shares) — which raw
    // cosine would pick for many sources but the ratio margin must not
    def noise(seed: Long, d: Int): Float = {
      var z = seed * 0x9E3779B97F4A7C15L + d * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      ((z >>> 40).toInt % 97) / 2000.0f
    }
    def base(i: Long): Seq[Float] =
      (0 until 8).map(d => (if (d == (i % 8).toInt) 1.0f else 0.15f) + noise(i, d))
    val src = (0L until 8L).map(i => (i, base(i))).toDF("vec_id", "embedding")
    val tgt = ((0L until 8L).map(i => (100L + i, base(i).map(_ + noise(i + 50, 1) * 0.1f))) :+
      (999L, Seq.fill(8)(0.55f))).toDF("vec_id", "embedding")
    val mined = Similarity.bitextMine(src, "vec_id", tgt, "vec_id",
        "embedding", k = 3, threshold = 1.0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // every source finds its planted translation, never the hub
    (0L until 8L).foreach { i =>
      assert(mined.get(i).contains(100L + i),
        s"src $i should mine tgt ${100 + i}, got ${mined.get(i)}")
    }
    assert(!mined.values.toSet.contains(999L), "the hub must never win a margin contest")
    // determinism under repartitioning
    val again = Similarity.bitextMine(src.repartition(5), "vec_id",
        tgt.repartition(3), "vec_id", "embedding", k = 3, threshold = 1.0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3))).toSet
    val first = Similarity.bitextMine(src, "vec_id", tgt, "vec_id",
        "embedding", k = 3, threshold = 1.0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3))).toSet
    assert(again == first)
  }

  test("dedupSurvivors: longest doc wins its group, ties to the lowest id") {
    val labels = Seq((1L, 1L), (2L, 1L), (5L, 1L), (3L, 3L)).toDF("node", "component_id")
    val docs = Seq((1L, 200L), (2L, 200L), (5L, 100L), (3L, 50L)).toDF("doc_id", "n_chars")
    val out = DedupFunctions.dedupSurvivors(labels, docs, "doc_id",
        preference = col("n_chars") * lit(1000000000L) - col("doc_id"))
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("group_size"), r.getAs[Long]("survivor")))).toMap
    // group 1 = {1, 2, 5}: docs 1 and 2 tie on length -> doc 1 survives
    assert(out == Map(1L -> ((3L, 1L)), 2L -> ((3L, 0L)), 5L -> ((3L, 0L)),
      3L -> ((1L, 1L))))
  }

  test("NgramLm: hand-computed bigram model, scoring, and exclusions") {
    val train = Seq((0L, "a b a"), (2L, "a b")).toDF("doc_id", "text")
    val lm = NgramLm.train(train, "text")
    val counts = lm.collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(counts == Map(("a", "b") -> 2L, ("b", "a") -> 1L))

    // model: c(a)=2, c(b)=1, V=|{a,b}|=2
    //   "a b c": p(b|a)=3/4, p(c|b)=1/3 -> nll = (ln(4/3)+ln 3)/2 = ln 2 = 0.6931
    //   "x y" (unseen context): p(y|x)=1/2 -> nll = ln 2 = 0.6931
    //   "a" has no bigrams -> excluded
    val eval = Seq((1L, "a b c"), (3L, "x y"), (5L, "a")).toDF("doc_id", "text")
    val out = NgramLm.scoreDocs(eval, "doc_id", "text", lm, threshold = 0.5)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_bigrams"), r.getAs[Double]("log_ppl"), r.getAs[Long]("kept")))).toMap
    assert(out.keySet == Set(1L, 3L))
    assert(out(1L) == ((2L, 0.6931, 0L)))
    assert(out(3L) == ((1L, 0.6931, 0L)))
  }

  test("UnigramLm: hand-computed vocab costs and Viterbi segmentation") {
    // corpus "abab ab cd": counts a=3 b=3 ab=3 c=d=cd=aba=abab=ba=bab=1
    // vocabSize=2 multi -> {ab(3), aba(1)} + singles {a,b,c,d}; total=12
    // cost = floor(-ln(cnt/12)*1e6+0.5): 3/12 -> 1386294, 1/12 -> 2484907
    val docs = Seq((1L, "abab ab cd")).toDF("doc_id", "text")
    val vocab = UnigramLm.train(docs, $"text", vocabSize = 2)
    val vm = vocab.collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(vm == Map(
      "a" -> ((3L, 1386294L)), "b" -> ((3L, 1386294L)),
      "c" -> ((1L, 2484907L)), "d" -> ((1L, 2484907L)),
      "ab" -> ((3L, 1386294L)), "aba" -> ((1L, 2484907L))), vm.toString)
    // Viterbi: "abab" = ab|ab (2772588, 2 pieces) beats aba|b (3871201);
    // "ab" = 1 piece; "cd" = c|d (cd not in the kept multi set)
    val st = UnigramLm.segmentStats(docs, "doc_id", $"text", vocab).collect().head
    assert(st.getLong(1) == 3L, "n_words")
    assert(st.getLong(2) == 5L, s"n_pieces: $st")
    assert(st.getLong(3) == 2772588L + 1386294L + 4969814L, s"total_cost: $st")
    // OOV floor: unseen single chars cost UnkCost each, never crash
    val oov = UnigramLm.segmentStats(
      Seq((2L, "xz"), (3L, null.asInstanceOf[String])).toDF("doc_id", "text"),
      "doc_id", $"text", vocab)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(oov(2L) == ((1L, 2L, 2L * UnigramLm.UnkCost)))
    assert(oov(3L) == ((0L, 0L, 0L)), "NULL text segments as an empty doc")
    // supplementary characters: MaxWordLen truncation and piece lengths
    // are CODEPOINT units (the trainer's Spark substring and the oracle's
    // DuckDB substr both count codepoints) — 20 copies of U+1D54F (2
    // UTF-16 units each) truncate to 16 codepoints = 16 OOV singles, not
    // 8 chars or 16 broken surrogate halves
    val supp = "𝕏" * 20
    val sup = UnigramLm.segmentStats(
      Seq((4L, supp)).toDF("doc_id", "text"), "doc_id", $"text", vocab)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(sup(4L) == ((1L, 16L, 16L * UnigramLm.UnkCost)),
      s"codepoint truncation/segmentation: ${sup(4L)}")
  }

  test("lengthBucketBatches: bin bounds padding, truncation caps, batches cover") {
    // lengths 2,2,2,2 (bin 0 at width 4), 5,6,7 (bin 1), 9->trunc 8 (bin 2)
    val docs = Seq(
      (1L, "w w"), (2L, "w w"), (3L, "w w"), (4L, "w w"),
      (5L, Seq.fill(5)("w").mkString(" ")),
      (6L, Seq.fill(6)("w").mkString(" ")),
      (7L, Seq.fill(7)("w").mkString(" ")),
      (8L, Seq.fill(9)("w").mkString(" "))).toDF("doc_id", "text")
    val out = Sampling.lengthBucketBatches(docs, "doc_id", "text",
      binWidth = 4L, batchSize = 2, maxLen = 8L)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
    // coverage: every doc lands in exactly one batch
    assert(out.map(_._3).sum == 8L, s"n_seqs must cover the corpus: ${out.toSeq}")
    // batch size respected
    assert(out.forall(_._3 <= 2L))
    // truncation: no max_len above maxLen; the 9-token doc is capped at 8
    assert(out.forall(_._4 <= 8L))
    assert(out.filter(_._1 == 2L).map(_._4).max == 8L)
    // the bin-0 batches are padding-free (all length 2): padded == sum
    out.filter(_._1 == 0L).foreach { b => assert(b._6 == b._5, b.toString) }
    // padding bound: padded - sum < n_seqs * binWidth (each seq pads < width)
    out.foreach { b => assert(b._6 - b._5 < b._3 * 4L, b.toString) }
    // degenerate single bin = the random baseline, same coverage
    val rand = Sampling.lengthBucketBatches(docs, "doc_id", "text",
      binWidth = 9L, batchSize = 2, maxLen = 8L).collect()
    assert(rand.map(_.getLong(2)).sum == 8L)
    // grouped arm never pads more than the random arm in total
    val padB = out.map(b => b._6 - b._5).sum
    val padR = rand.map(r => r.getLong(5) - r.getLong(4)).sum
    assert(padB <= padR, s"bucketing must not pad more: $padB vs $padR")
  }

  test("doremiWeights: excess loss moves weight, smoothing floors it, Σ≈1e9") {
    // 40 docs in two domains; "hard" excess 0.5 nats on every doc in every
    // batch, "easy" excess 0 — proxy/ref scored frames synthesized directly
    val ids = (0L until 40L)
    val domains = ids.map(i => (i, if (i < 20) "hard" else "easy")).toDF("doc_id", "source")
    val ref = ids.map(i => (i, 1.0)).toDF("doc_id", "log_ppl")
    val proxy = ids.map(i => (i, if (i < 20) 1.5 else 1.0)).toDF("doc_id", "log_ppl")
    val w = ImportanceSampling.doremiWeights(proxy, ref, domains, "doc_id", "source")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(w.keySet == Set("hard", "easy"))
    assert(w("hard") > w("easy"), s"hard domain must gain weight: $w")
    // exact replay of the integer fold from first principles: per-batch
    // x = 5000 (the 0.5-nat excess on the round4 grid) where the batch
    // holds a hard doc, 0 otherwise; batch = pmod(xxhash64(id), 8)
    val batchOf = domains.select($"doc_id",
      pmod(xxhash64($"doc_id".cast("string")), lit(8L)).as("t"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val hardBatches = ids.filter(_ < 20).map(batchOf).toSet
    var st = Seq(BigInt(500000000L), BigInt(500000000L))
    for (t <- 0L until 8L) {
      val xs = Seq(if (hardBatches.contains(t)) 5000L else 0L, 0L)
      val ps = st.zip(xs).map { case (wd, x) =>
        wd * BigInt(math.floor(math.exp(0.5 * x / 10000.0) * 1e9 + 0.5).toLong) }
      val s = ps.sum
      st = ps.map(p => ((p * 1000000000L / s) * 9 + 500000000L) / 10)
    }
    assert(w("easy") == st(1).toLong && w("hard") == st.head.toLong,
      s"fold mismatch: got $w, expected $st")
    // smoothing keeps every domain above δ·uniform
    assert(w.values.forall(_ >= 500000000L / 10))
    assert(math.abs(w.values.sum - 1000000000L) < 100L)
  }

  test("NgramLm KN: hand-computed interpolated Kneser-Ney over the same model table") {
    // train "a b a b a c": c12 = {(a,b)->2, (b,a)->2, (a,c)->1}
    //   uni: a (c1=3, n1p=2), b (c1=2, n1p=1)
    //   cont: nc(a)=nc(b)=nc(c)=1; T=3 types, V=3 -> pcont(seen)=2/6, pcont(unseen)=1/6
    val train = Seq((0L, "a b a b a c")).toDF("doc_id", "text")
    val lm = NgramLm.train(train, "text")
    // doc "a b c d":
    //   (a,b) seen-seen: (2-0.75)/3 + (0.75*2/3)*(2/6)          = 0.583333...
    //   (b,c) seen ctx, unseen bigram: 0 + (0.75*1/2)*(2/6)     = 0.125
    //   (c,d) unseen ctx: pcont(d) = 1/6
    //   log_ppl = -(ln(.58333..)+ln(.125)+ln(1/6))/3 = 1.4701 (round4)
    val out = NgramLm.scoreDocsKN(
      Seq((1L, "a b c d")).toDF("doc_id", "text"), "doc_id", "text", lm,
      threshold = 1.5)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_bigrams"), r.getAs[Double]("log_ppl"), r.getAs[Long]("kept")))).toMap
    assert(out == Map(1L -> ((3L, 1.4701, 1L))))
    // discounting must never produce a non-positive probability: a doc of
    // entirely-unseen tokens scores at the OOV floor, finite and kept/dropped
    val oov = NgramLm.scoreDocsKN(
      Seq((2L, "x y z")).toDF("doc_id", "text"), "doc_id", "text", lm,
      threshold = 1.5).collect()
    assert(oov.length == 1 && !oov.head.getAs[Double]("log_ppl").isInfinite)
  }

  test("nearDupCosineBlocked: exact within blocks, no cross-block pairs") {
    val emb = Tables.embeddings(spark, sfDir)
    val out = Similarity.nearDupCosineBlocked(
      emb, "vec_id", "embedding", blockCols = Seq("label"), threshold = 0.30)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"),
        r.getAs[Double]("cosine")))
    assert(out.nonEmpty)
    assert(out.forall { case (a, b, c) => a < b && c >= 0.30 })
    // every reported pair shares a label, and the exhaustive within-block
    // ground truth (brute-forced on the driver) matches the operator exactly
    val rows = emb.select($"vec_id", $"embedding", $"label").collect()
      .map(r => (r.getAs[Long]("vec_id"),
        r.getSeq[Float](1).toArray, r.getAs[Int]("label")))
    def cos(x: Array[Float], y: Array[Float]): Double = {
      var d = 0.0; var nx = 0.0; var ny = 0.0; var i = 0
      while (i < x.length) {
        d += x(i).toDouble * y(i); nx += x(i).toDouble * x(i)
        ny += y(i).toDouble * y(i); i += 1
      }
      d / (math.sqrt(nx) * math.sqrt(ny))
    }
    val truth = (for {
      (ia, va, la) <- rows; (ib, vb, lb) <- rows
      if la == lb && ia < ib
      c = math.rint(cos(va, vb) * 1e6) / 1e6 if c >= 0.30
    } yield (ia, ib)).toSet
    assert(out.map(t => (t._1, t._2)).toSet == truth)
  }

  test("approximate ANN (LSH + IVF) recalls a reasonable share of exact top-5") {
    val emb = Tables.embeddings(spark, sfDir)
    val qs = emb.filter($"vec_id" < 10)
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val exact = pairs(Similarity.bruteForceTopK(qs, "vec_id", emb, "vec_id", "embedding", 5))
    val ivf = pairs(Similarity.ivfTopK(qs, "vec_id", emb, "vec_id", "embedding", 5, nlist = 8, nprobe = 4))
    val lsh = pairs(Similarity.lshTopK(qs, "vec_id", emb, "vec_id", "embedding", 5, bits = 2, dim = 64))
    assert(exact.size == 50)
    // near-random embeddings make recall weak by construction; the contract
    // here is shape + overlap, not production recall
    assert((ivf & exact).size >= 10, s"IVF recall too low: ${(ivf & exact).size}/50")
    assert((lsh & exact).size >= 10, s"LSH recall too low: ${(lsh & exact).size}/50")
    // int8 SQ with exact re-rank loses almost nothing: a 4k shortlist must
    // recover (nearly) the full exact top-5 even on this adversarial corpus
    val sq = pairs(Similarity.sqTopKReranked(qs, "vec_id", emb, "vec_id", "embedding",
      5, shortlist = 20))
    assert((sq & exact).size >= 45, s"SQ-rerank recall too low: ${(sq & exact).size}/50")
  }

  test("langId picks the best-covered language deterministically") {
    val markers = Map("en" -> Seq("the", "dog"), "es" -> Seq("el", "perro"))
    val df = Seq(("the dog runs", 1), ("el perro corre", 2), ("zzz yyy", 3)).toDF("text", "id")
    val out = df.select($"id", TextFunctions.langId($"text", markers)).collect()
      .map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(out(1) == "en" && out(2) == "es" && out(3) == "en")  // tie → first code
  }

  test("multimodal decode stub: deterministic features from payload bytes") {
    import graft.multimodal.Multimodal
    val docs = Tables.documents(spark, sfDir).limit(20)
      .withColumn("payload", encode($"text", "UTF-8").cast("binary"))
    val items = Multimodal.asMediaItems(docs, "doc_id", "payload", "image", "source")
    val feats = Multimodal.withFeatures(items).collect()
    assert(feats.length == 20)
    feats.foreach { f =>
      assert(f.checksum.length == 32 && f.width >= 64 && f.width < 128 && f.n_frames == 1)
    }
    // determinism: same input → same output
    val again = Multimodal.withFeatures(items).collect()
    assert(feats.map(_.checksum).sorted.sameElements(again.map(_.checksum).sorted))
  }

  test("persisted IVF index: indexed probe rows identical to inline IVF; scan is partition-pruned") {
    val emb = Tables.embeddings(spark, sfDir)
    val queriesDf = emb.filter($"vec_id" < 10)
    val idx = java.nio.file.Files.createTempDirectory("graft_ivf_spec_")
      .resolve("index").toString
    Similarity.ivfIndexWrite(emb, "vec_id", "embedding", idx, nlist = 16)
    val inline = Similarity.ivfTopK(queriesDf, "vec_id", emb, "vec_id", "embedding",
      k = 5, nlist = 16, nprobe = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    val indexed = Similarity.ivfTopKIndexed(queriesDf, "vec_id", "embedding", idx,
      k = 5, nprobe = 4)
    val got = indexed.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    assert(got == inline, s"indexed IVF diverged from inline:\n got=$got\n exp=$inline")
    // the probe plan must prune unprobed list partitions at the scan
    val plan = indexed.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("centroid_id"),
      s"no partition pruning in indexed probe plan:\n$plan")
  }

  test("composed IVF-PQ index: pruned probe, model round-trip exact, re-rank boosts recall") {
    val emb = Tables.embeddings(spark, sfDir)
    val queriesDf = emb.filter($"vec_id" < 10)
    val idx = java.nio.file.Files.createTempDirectory("graft_ivfpq_spec_")
      .resolve("index").toString
    Similarity.ivfPqIndexWrite(emb, "vec_id", "embedding", idx, nlist = 16, m = 8, ks = 16)
    // PQ model round-trips bit-exactly through JSON
    val pq = ProductQuantization.train(emb, "vec_id", "embedding", 8, 16, 2)
    val rt = ProductQuantization.modelFromJson(ProductQuantization.modelToJson(pq))
    def flat(cb: Array[Array[Array[Double]]]): Seq[Double] =
      cb.toSeq.flatMap(_.toSeq.flatMap(_.toSeq))
    assert(flat(rt.codebooks) == flat(pq.codebooks))
    val k = 5
    val adc = Similarity.ivfPqTopK(queriesDf, "vec_id", "embedding", idx, k, nprobe = 4)
    // probe plan: partition-pruned scan of the code lists
    val plan = adc.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("centroid_id"),
      s"no partition pruning in IVF-PQ probe plan:\n$plan")
    assert(adc.groupBy("query_id").count().collect().forall(_.getLong(1) == k))
    // exact re-rank from the source table must not lose recall vs raw ADC
    val exact = Similarity.bruteForceTopK(queriesDf, "vec_id", emb, "vec_id", "embedding", k)
    val rr = Similarity.ivfPqTopK(queriesDf, "vec_id", "embedding", idx, k,
      nprobe = 4, rerank = 25, rerankSource = Some((emb, "vec_id")))
    def recall(df: org.apache.spark.sql.DataFrame): Double =
      Similarity.recallAtK(exact, df, k).agg(avg($"recall")).head().getDouble(0)
    val (ra, rb) = (recall(adc), recall(rr))
    assert(rb >= ra, s"re-rank must not reduce recall: adc=$ra reranked=$rb")
    assert(rb >= 0.3, s"reranked recall implausibly low: $rb")
    // deterministic across runs (stored models, no RNG)
    val again = Similarity.ivfPqTopK(queriesDf, "vec_id", "embedding", idx, k,
      nprobe = 4, rerank = 25, rerankSource = Some((emb, "vec_id"))).collect().toSet
    assert(again == rr.collect().toSet)
  }

  test("incremental IVF append: half + appended half probes identically to a full build") {
    val emb = Tables.embeddings(spark, sfDir)
    val queriesDf = emb.filter($"vec_id" < 10)
    val full = java.nio.file.Files.createTempDirectory("graft_ivf_full_").resolve("i").toString
    val inc = java.nio.file.Files.createTempDirectory("graft_ivf_inc_").resolve("i").toString
    Similarity.ivfIndexWrite(emb, "vec_id", "embedding", full, nlist = 16)
    // incremental: build on evens, append odds with the STORED model.
    // Seed rows (lowest ids) are even-heavy but seedCentroids picks the
    // lowest nlist ids of the build subset — identical centroids requires
    // the same seed set, so build on the full seed prefix then append rest
    val buildHalf = emb.filter($"vec_id" < 1000)
    val appendHalf = emb.filter($"vec_id" >= 1000)
    Similarity.ivfIndexWrite(buildHalf, "vec_id", "embedding", inc, nlist = 16)
    Similarity.ivfIndexAppend(appendHalf, "vec_id", "embedding", inc)
    val a = Similarity.ivfTopKIndexed(queriesDf, "vec_id", "embedding", full, k = 5, nprobe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val b = Similarity.ivfTopKIndexed(queriesDf, "vec_id", "embedding", inc, k = 5, nprobe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(a == b, s"incremental index diverged from full rebuild:\n $a\n vs $b")
  }

  test("k-means IVF training: deterministic model, full top-k coverage, centroids move") {
    val emb = Tables.embeddings(spark, sfDir)
    val m1 = Similarity.trainCentroids(emb, "vec_id", "embedding", nlist = 8, iters = 2)
    val m2 = Similarity.trainCentroids(emb, "vec_id", "embedding", nlist = 8, iters = 2)
    // decimal-sum training: bit-identical across runs (naive double sums are
    // partition-order-dependent and would make the index nondeterministic)
    assert(m1.length == 8)
    (m1 zip m2).foreach { case ((id1, v1, n1), (id2, v2, n2)) =>
      assert(id1 == id2 && n1 == n2 && v1.sameElements(v2))
    }
    // Lloyd's actually moved the centroids off their seeds
    val seeds = Similarity.trainCentroids(emb, "vec_id", "embedding", nlist = 8, iters = 0)
    assert((m1 zip seeds).exists { case ((_, v, _), (_, s, _)) => !v.sameElements(s) })
    // trained IVF still yields exactly k neighbors per query
    val queriesDf = emb.filter($"vec_id" < 5)
    val out = Similarity.ivfTopK(queriesDf, "vec_id", emb, "vec_id", "embedding",
      k = 3, nlist = 8, nprobe = 3, trainIters = 2)
      .groupBy("query_id").count().collect()
    assert(out.length == 5 && out.forall(_.getLong(1) == 3))
  }

  test("product quantization: deterministic model, packed codes, exact rerank scores") {
    import graft.functions.ProductQuantization
    val emb = Tables.embeddings(spark, sfDir)
    val m1 = ProductQuantization.train(emb, "vec_id", "embedding", m = 8, ks = 16, iters = 2)
    val m2 = ProductQuantization.train(emb, "vec_id", "embedding", m = 8, ks = 16, iters = 2)
    // decimal-sum training → bit-identical model across runs
    for (j <- 0 until 8; k <- 0 until 16)
      assert(m1.codebooks(j)(k).sameElements(m2.codebooks(j)(k)))
    // every vector packs into one int (subspace 7's code may reach the sign
    // bit — the bits are what matter); encoding is deterministic and varied
    val codes = emb.select(ProductQuantization.encode(m1)($"embedding").as("c"))
      .agg(count(lit(1)).as("n"), countDistinct($"c").as("d")).head()
    assert(codes.getLong(0) > 0 && codes.getLong(1) > 1)
    val queriesDf = emb.filter($"vec_id" < 5)
    // ADC path: k rows per query, approximate scores
    val adc = ProductQuantization.topK(queriesDf, "vec_id", emb, "vec_id", "embedding",
      k = 3, m1)
    val perQ = adc.groupBy("query_id").count().collect()
    assert(perQ.length == 5 && perQ.forall(_.getLong(1) == 3))
    // rerank path: the emitted cosine must EQUAL the exact brute-force
    // cosine for those pairs (re-scoring is exact, not approximate)
    val rr = ProductQuantization.topK(queriesDf, "vec_id", emb, "vec_id", "embedding",
      k = 3, m1, rerank = 12)
    val exact = Similarity.bruteForceTopK(queriesDf, "vec_id", emb, "vec_id", "embedding",
      k = 100)
    val joined = rr.as("r").join(exact.as("e"), Seq("query_id", "neighbor_id"))
      .select($"r.cosine", $"e.cosine").collect()
    assert(joined.nonEmpty && joined.forall(r => r.getDouble(0) == r.getDouble(1)),
      "rerank cosine diverged from brute-force cosine")
  }

  test("product quantization training fails fast on degenerate input") {
    import graft.functions.ProductQuantization
    val empty = Seq.empty[(Long, Seq[Float])].toDF("vec_id", "embedding")
    val e1 = intercept[IllegalArgumentException] {
      ProductQuantization.train(empty, "vec_id", "embedding", m = 8, ks = 16)
    }
    assert(e1.getMessage.contains("at least ks=16"))
    // fewer vectors than codebook size
    val short = (0L until 5L).map(i => (i, Seq.fill(16)(1.0f))).toDF("vec_id", "embedding")
    val e2 = intercept[IllegalArgumentException] {
      ProductQuantization.train(short, "vec_id", "embedding", m = 8, ks = 16)
    }
    assert(e2.getMessage.contains("only 5 row(s)"))
    // a zero-norm vector among the seeds must not yield NaN centroids
    val zero = ((0L until 15L).map(i => (i, Seq.fill(16)(i + 1.0f))) :+
      (15L, Seq.fill(16)(0.0f))).toDF("vec_id", "embedding")
    val e3 = intercept[IllegalArgumentException] {
      ProductQuantization.train(zero, "vec_id", "embedding", m = 8, ks = 16)
    }
    assert(e3.getMessage.contains("zero-norm"))
  }

  test("incremental minhash dedup: new batch vs landed corpus, corpus text never re-read") {
    val t1 = "the quick brown fox jumps over the lazy dog again and again today"
    val fresh = "completely different content about spark catalyst optimizer internals"
    val corpus = DedupFunctions.minHashSignatures(
      Seq((1L, t1), (2L, "unrelated corpus document number two entirely")).toDF("doc_id", "text"),
      "doc_id", "text")
    val out = DedupFunctions.nearDupMinHashIncremental(
      Seq((10L, t1), (11L, fresh)).toDF("doc_id", "text"), "doc_id", "text",
      corpus, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(out.toSeq == Seq((10L, 1L, 1.0)), s"expected exact dup of corpus doc 1, got ${out.toSeq}")
  }

  test("winnowing: shared substrings produce shared prints; disjoint docs share none") {
    val base = "it was the best of times it was the worst of times it was the age of wisdom"
    val withSharedBlock = "completely new prefix text here " + base + " and a novel suffix closes it"
    val disjoint = "zzzz qqqq jjjj xxxx vvvv kkkk wwww yyyy ffff gggg hhhh nnnn mmmm pppp"
    val df = Seq((1L, base), (2L, withSharedBlock), (3L, disjoint)).toDF("doc_id", "text")
    val pairs = DedupFunctions.nearDupWinnowing(df, "doc_id", "text", threshold = 0.2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)),
      s"docs sharing a long substring must pair, disjoint must not: $pairs")
    // identical docs → identical sketches (jaccard 1.0)
    val same = DedupFunctions.nearDupWinnowing(
      Seq((1L, base), (2L, base)).toDF("doc_id", "text"), "doc_id", "text", threshold = 0.99)
      .collect()
    assert(same.length == 1 && same(0).getDouble(2) == 1.0)
    // SQL surface parity
    GraftFunctions.register(spark)
    Seq((1L, base)).toDF("doc_id", "text").createOrReplaceTempView("win_sql")
    val viaSql = spark.sql("SELECT winnow_fingerprints(lower(text), 8, 16) AS s FROM win_sql")
      .collect()(0).getSeq[Long](0)
    val viaCol = Seq((1L, base)).toDF("doc_id", "text")
      .select(DedupFunctions.winnowingSketch($"text")).collect()(0).getSeq[Long](0)
    assert(viaSql == viaCol)
  }

  test("semDedup: exact dups removed keep-min-id, distinct vectors survive") {
    // three well-separated directions in R^4; exact duplicates share a
    // vector bit-for-bit, so they land in the same cluster regardless of
    // how k-means carves the space — the removal assertion is robust
    val e1 = Array(1f, 0f, 0f, 0f)
    val e2 = Array(0f, 1f, 0f, 0f)
    val e3 = Array(0f, 0f, 1f, 0f)
    val near1 = Array(0.999f, 0.04f, 0f, 0f) // cos vs e1 ≈ 0.9992
    // the three LOWEST ids are the three distinct directions, because
    // seedCentroids takes the nlist lowest-id vectors as the initial model
    val rows = Seq(
      (10L, e1), (110L, e1), (120L, e1), // dup group: keep 10, drop 110/120
      (20L, e2), (210L, e2),             // dup group: keep 20, drop 210
      (30L, e3),                         // singleton
      (400L, near1)                      // near-dup of the e1 group
    )
    val df = rows.toDF("vec_id", "embedding")
    val detail = Similarity.semDedup(df, "vec_id", "embedding",
        nlist = 3, iters = 2, threshold = 0.95, detail = true)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(detail(10L) && !detail(110L) && !detail(120L), detail.toString)
    assert(detail(20L) && !detail(210L), detail.toString)
    assert(detail(30L), "singleton must survive")
    // near1 is only removed if it shares a cluster with the e1 group —
    // with 3 well-separated directions and nlist=3 it must
    assert(!detail(400L), s"near-dup of a lower-id item must be removed: $detail")
    // aggregate view is consistent with the detail view
    val agg = Similarity.semDedup(df, "vec_id", "embedding",
        nlist = 3, iters = 2, threshold = 0.95)
      .agg(sum($"n_items"), sum($"n_kept"), sum($"n_removed"))
      .head
    assert((agg.getLong(0), agg.getLong(1), agg.getLong(2)) == ((7L, 3L, 4L)))
  }

  test("semDedup and contaminationViaBloom hold no storage across invocations") {
    // round-6/7 advice: a persist inside a lazily-returned operator has no
    // unpersist point, so repeated calls in a long-lived session would
    // accumulate executor storage memory without bound
    val vecs = Seq((1L, Array(1f, 0f)), (2L, Array(1f, 0f)), (3L, Array(0f, 1f)))
      .toDF("vec_id", "embedding")
    val docs = Seq((1L, "alpha beta gamma delta"), (2L, "beta gamma delta eps"))
      .toDF("doc_id", "text")
    val ref = Seq(Tuple1("beta gamma delta")).toDF("text")
    val before = spark.sparkContext.getPersistentRDDs.size
    (1 to 3).foreach { _ =>
      Similarity.semDedup(vecs, "vec_id", "embedding",
        nlist = 2, iters = 1, threshold = 0.95).collect()
      DedupFunctions.contaminationViaBloom(docs, "doc_id", "text", ref, "text").collect()
    }
    val after = spark.sparkContext.getPersistentRDDs.size
    assert(after <= before,
      s"repeated invocations leaked persisted RDDs: $before -> $after")
  }

  test("repetition signals: top/dup n-gram char counts match hand computation") {
    // "a b a b a b" → 3-grams: [a b a, b a b, a b a, b a b] — top gram
    // "a b a" (tie count 2, lexicographic min) covers 2*5 chars; every
    // position's gram repeats, so dup chars = 5+5+5+5
    val df = Seq(
      (1L, "a b a b a b"),
      (2L, "one two three four five six"),          // all grams distinct
      (3L, "x y x y x y x y x y x y")               // fully repetitive
    ).toDF("doc_id", "text")
      .select($"doc_id", length($"text").as("n_chars"),
        TextFunctions.tokens($"text").as("t"))
      .select($"doc_id", $"n_chars",
        TextFunctions.ngrams($"t", 3).as("g3"),
        TextFunctions.ngrams($"t", 5).as("g5"))
      .select($"doc_id",
        TextFunctions.topGramChars($"g3").as("top3"),
        TextFunctions.dupGramChars($"g5").as("dup5"),
        TextFunctions.totalGramChars($"g3").as("tot3"),
        TextFunctions.totalGramChars($"g5").as("tot5"))
    val m = df.collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4)))).toMap
    assert(m(1L) == ((10, 0, 20, 18)), m.toString) // "a b a"×2; the two 5-grams differ
    assert(m(2L) == ((13, 0, 55, 46)), m.toString) // singletons: lex-min "four five six"
    // 3-grams of doc 3: "x y x"×5, "y x y"×5 → top = "x y x" (5×5=25 chars of 50);
    // 5-grams: "x y x y x"×4, "y x y x y"×4 → all 8 positions duplicated, 9 chars each
    assert(m(3L) == ((25, 72, 50, 72)), m.toString)
    // mass fractions are bounded: dup5/tot5 = 1.0 for the fully repetitive doc
    assert(m.values.forall { case (top, dup, t3, t5) => top <= t3 && dup <= t5 })
    // short-input guard: fewer tokens than n yields an empty gram array
    val short = Seq((1L, "one two")).toDF("doc_id", "text")
      .select(size(TextFunctions.ngrams(TextFunctions.tokens($"text"), 3)).as("n"))
    assert(short.head.getInt(0) == 0, "ngrams on a 2-token doc must be empty, not throw")
    // end-to-end: q74 runs on the corpus and every row decides the rule
    val out = graft.SparkEntry.queries("q74_repetition")(spark, sfDir)
    assert(out.columns.toSeq ==
      Seq("doc_id", "n_chars", "top3_frac", "dup5_frac", "keep"))
    val rows = out.collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => r.getLong(4) == 0L || r.getLong(4) == 1L))
  }

  /** The array-lambda spelling the GramStatsExpr kernel replaced — kept
    * here only as the parity reference.
    */
  private object LambdaSignals {
    private def count(arr: org.apache.spark.sql.Column, g: org.apache.spark.sql.Column) =
      size(filter(arr, x => x === g))
    def top(grams: org.apache.spark.sql.Column) = {
      val d = array_distinct(grams)
      val maxc = array_max(transform(d, g => count(grams, g)))
      maxc * length(array_min(filter(d, g => count(grams, g) === maxc)))
    }
    def dup(grams: org.apache.spark.sql.Column) =
      aggregate(grams, lit(0), (acc, g) =>
        acc + when(count(grams, g) > 1, length(g)).otherwise(0))
    def total(grams: org.apache.spark.sql.Column) =
      aggregate(grams, lit(0), (acc, g) => acc + length(g))
    // divides by NULL rather than 0 on an empty array, as qualityKeep
    // does: in a projection the repeated ratio is a common subexpression,
    // evaluated past the AND's short circuit, and 0 raises under ANSI
    def keep(t: org.apache.spark.sql.Column) = {
      import TextFunctions._
      val n = size(t)
      val nd = size(array_distinct(t))
      val maxc = array_max(transform(array_distinct(t), w => count(t, w)))
      val sumLen = total(t)
      val d = when(n =!= 0, n)
      n.cast("long") >= QualityMinTokens && n.cast("long") <= QualityMaxTokens &&
        round4(sumLen.cast("double") / d) >= QualityMinMeanWordLen &&
        round4(sumLen.cast("double") / d) <= QualityMaxMeanWordLen &&
        round4(maxc.cast("double") / d) <= QualityMaxTopWordFrac &&
        round4(lit(1.0) - nd.cast("double") / d) <= QualityMaxDupWordFrac
    }
  }

  test("repetition and word signals: the hash kernel equals the array-lambda spelling " +
    "on 2400 seeded arrays (ties, NULLs, empties, multi-byte, UTF-8 order)") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    // few short words → heavy count ties; U+FFFD vs U+1F600 is where
    // UTF-8 byte order and UTF-16 String order disagree
    val vocab = Seq("a", "b", "ab", "ba", "", "é", "日本", "a b", "\uFFFD", "\uD83D\uDE00",
      "\uD83D\uDE00x", "\uE000", "zz")
    val rnd = new scala.util.Random(7)
    def randomArray(): Seq[String] = rnd.nextInt(20) match {
      case 0 => null
      case 1 => Seq.empty
      case k =>
        val len = if (k < 10) 1 + rnd.nextInt(6) else 5 + rnd.nextInt(40)
        val words = vocab.take(1 + rnd.nextInt(vocab.size))
        val nullP = if (rnd.nextInt(4) == 0) 0.1 else 0.0
        Seq.fill(len)(if (rnd.nextDouble() < nullP) null else words(rnd.nextInt(words.size)))
    }
    val fixed = Seq[Seq[String]](
      Seq("\uFFFD", "\uD83D\uDE00x"), Seq("\uD83D\uDE00x", "\uFFFD"),
      Seq(null), Seq(null, null), Seq(null, "a"), Seq("", ""), Seq("a", "b", "b", "a"))
    val arrays = fixed ++ Seq.fill(2400)(randomArray())
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("g", ArrayType(StringType, containsNull = true))))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(arrays.zipWithIndex.map { case (a, i) => Row(i.toLong, a) }, 4),
      schema)
    val pairs = Seq(
      "top" -> (TextFunctions.topGramChars(col("g")), LambdaSignals.top(col("g"))),
      "dup" -> (TextFunctions.dupGramChars(col("g")), LambdaSignals.dup(col("g"))),
      "total" -> (TextFunctions.totalGramChars(col("g")), LambdaSignals.total(col("g"))),
      "keep" -> (TextFunctions.qualityKeep(col("g")), LambdaSignals.keep(col("g"))))
    val out = df.select(col("id") +: pairs.flatMap { case (name, (now, ref)) =>
      Seq(now.as(s"${name}_now"), ref.as(s"${name}_ref")) }: _*)
    pairs.foreach { case (name, _) =>
      assert(out.schema(s"${name}_now").dataType == out.schema(s"${name}_ref").dataType, name)
    }
    val rows = out.collect()
    assert(rows.length == arrays.size)
    pairs.map(_._1).foreach { name =>
      val bad = rows.filter(r => r.getAs[Any](s"${name}_now") != r.getAs[Any](s"${name}_ref"))
      assert(bad.isEmpty, s"$name differs on ${bad.take(5).map(r =>
        (arrays(r.getLong(0).toInt), r.getAs[Any](s"${name}_now"), r.getAs[Any](s"${name}_ref"))
      ).mkString("; ")}")
    }
    // the fixed cases pin each rule by value
    val byId = rows.map(r => r.getLong(0) -> r).toMap
    def sig(i: Int) = (byId(i.toLong).getAs[Any]("top_now"), byId(i.toLong).getAs[Any]("dup_now"),
      byId(i.toLong).getAs[Any]("total_now"))
    // the tie goes to U+FFFD (1 char), first in UTF-8 byte order; UTF-16
    // String order would pick the 2-char "😀x"
    assert(sig(0) == ((1, 0, 3)) && sig(1) == ((1, 0, 3)))
    assert(sig(2) == ((null, 0, null)) && sig(4) == ((1, 0, null)))
    assert(sig(5) == ((0, 0, 0)) && sig(6) == ((2, 4, 4)))
    val empty = arrays.indexWhere(a => a != null && a.isEmpty)
    val nul = arrays.indexWhere(_ == null)
    assert(sig(empty) == ((null, 0, 0)) && sig(nul) == ((null, null, null)))
  }

  /** A document of `n` tokens drawn from `n` words, as one parquet row. */
  private def docOf(n: Int, seed: Int): org.apache.spark.sql.DataFrame = {
    val rnd = new scala.util.Random(seed)
    val dir = java.nio.file.Files.createTempDirectory("graft_gram_doc_").toString
    Seq((1L, Seq.fill(n)(s"w${rnd.nextInt(n)}").mkString(" "))).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir)
  }

  /** tokens → n-grams → the four signals, shaped like the benchmark's
    * corpus pass.
    */
  private def signals(docs: org.apache.spark.sql.DataFrame) = {
    val t = docs.select(col("doc_id"), TextFunctions.tokens(lower(col("text"))).as("t"))
      .select(col("doc_id"), col("t"),
        TextFunctions.ngrams(col("t"), 2).as("g2"), TextFunctions.ngrams(col("t"), 3).as("g3"))
    t.select(col("doc_id"),
      TextFunctions.qualityKeep(col("t")).as("keep"),
      (TextFunctions.topGramChars(col("g2")) / TextFunctions.totalGramChars(col("g2"))).as("top2"),
      (TextFunctions.dupGramChars(col("g3")) / TextFunctions.totalGramChars(col("g3"))).as("dup3"))
  }

  test("repetition and word signals are linear in the document: doubling N stays under 3x") {
    def seconds(df: org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    def median3(df: org.apache.spark.sql.DataFrame): Double =
      Seq.fill(3)(seconds(df)).sorted.apply(1)
    // grow N until one document's pass takes at least 0.2 s, so the
    // fixed per-job cost cannot hide the per-token cost
    var n = 1000
    var plan = signals(docOf(n, 1))
    seconds(plan)
    var tN = median3(plan)
    while (tN < 0.2 && n < 3200000) {
      n *= 2
      plan = signals(docOf(n, 1))
      seconds(plan)
      tN = median3(plan)
    }
    assert(tN >= 0.2, s"N=$n ran in $tN s")
    val twice = signals(docOf(2 * n, 2))
    seconds(twice)
    val t2N = median3(twice)
    info(f"N=$n: $tN%.3f s, 2N: $t2N%.3f s, ratio ${t2N / tN}%.2f")
    assert(t2N / tN < 3.0, s"N=$n: ${tN}s, 2N: ${t2N}s, ratio ${t2N / tN}")
  }

  test("the benchmark-shaped signals plan compiles the gram kernel (no CodegenFallback)") {
    import org.apache.spark.sql.execution.WholeStageCodegenExec
    // a file scan and no exchange: the plan is not adaptive, so the
    // executed plan is the final one
    val df = signals(docOf(10, 3))
    val plan = df.queryExecution.executedPlan
    def holdsKernel(p: org.apache.spark.sql.execution.SparkPlan) =
      p.expressions.exists(_.exists(_.isInstanceOf[graft.expressions.GramStatsExpr]))
    val kernels = plan.collect { case w: WholeStageCodegenExec => w.child }
      .flatMap(_.collect { case p if holdsKernel(p) => p })
    assert(kernels.nonEmpty, s"no whole-stage-compiled operator holds the kernel:\n$plan")
    // an operator holding any CodegenFallback expression is left out of
    // whole-stage codegen, so this also rules out a fallback beside it
    assert(plan.collect { case p if holdsKernel(p) => p }.size == kernels.size,
      s"an operator holding the kernel runs outside whole-stage codegen:\n$plan")
    assert(df.collect().length == 1)
  }

  test("q95's quality gate runs the gram kernel once per row: keep bit projected before the checkpoint") {
    // Spark eliminates common subexpressions in a projection but not in a
    // Filter condition, where each of qualityKeep's four GramStatsExpr
    // reads calls the kernel; and a keep bit projected above the
    // checkpoint is inlined back into the Filter by predicate pushdown
    val toks = filter(split(lower(col("text")), "\\s+"), x => length(x) > 0)
    // checkpointed, so the projection is planned rather than folded into
    // a local relation
    val docs = Seq((1L, "the quick brown fox jumps over lazy dogs"), (2L, ""), (3L, "a a a a a a"))
      .toDF("doc_id", "text").localCheckpoint()
    def kernelCalls(df: org.apache.spark.sql.DataFrame): Int =
      "GramStatsExpr\\.compute\\(".r.findAllIn(
        org.apache.spark.sql.execution.debug.codegenString(df.queryExecution.executedPlan)).size
    val inFilter = docs.withColumn("__t", toks).localCheckpoint(false)
      .filter(size(col("__t")) > 0)
      .filter(TextFunctions.qualityKeep(col("__t"))).drop("__t")
    assert(kernelCalls(inFilter) == 4)
    // q95: tokens and keep bit in one projection, then the checkpoint
    val tokped = docs.withColumn("__t", toks)
      .withColumn("__keep", TextFunctions.qualityKeep(col("__t")))
    assert(kernelCalls(tokped) == 1)
    val gated = tokped.localCheckpoint(false)
      .filter(size(col("__t")) > 0 && col("__keep")).drop("__keep", "__t")
    assert(kernelCalls(gated) == 0)
    assert(gated.collect().toSeq == inFilter.collect().toSeq)
    assert(gated.collect().map(_.getLong(0)).toSeq == Seq(1L))
    // ScaleSweep's publish gate: one call below its barrier, none above
    assert(kernelCalls(graft.tools.ScaleSweep.keepBit(docs)) == 1)
    val sweepGate = graft.tools.ScaleSweep.publishGate(docs)
    assert(kernelCalls(sweepGate) == 0)
    assert(sweepGate.collect().toSeq == inFilter.collect().toSeq)
  }

  test("exactSubstrDedup: first occurrence kept, later spans cut, within-doc repeats cut") {
    val docs = Seq(
      (1L, "a b c d e"),         // canonical owner of every shared span
      (2L, "x y a b c z"),       // shares "a b c" → loses it
      (3L, "a b c d e"),         // exact copy of doc 1 → fully covered
      (4L, "p q"),               // shorter than minSpan → untouched
      (5L, ""),                  // zero tokens → restored by the left join
      (6L, "m n o k m n o")      // within-doc repeat: second "m n o" cut
    ).toDF("doc_id", "text")
    val out = DedupFunctions.exactSubstrDedup(docs, "doc_id", "text", minSpan = 3)
    assert(out.columns.toSeq == Seq("doc_id", "text_dedup", "n_tokens", "n_removed"))
    val m = out.collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(m(1L) == (("a b c d e", 5L, 0L)), m.toString)
    assert(m(2L) == (("x y z", 6L, 3L)), m.toString)
    assert(m(3L) == (("", 5L, 5L)), m.toString)
    assert(m(4L) == (("p q", 2L, 0L)), m.toString)
    assert(m(5L) == (("", 0L, 0L)), m.toString)
    assert(m(6L) == (("m n o k", 7L, 3L)), m.toString)
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"span dedup must stay equi-join/window shaped:\n$plan")
  }

  test("exactSubstrDedup: randomized equivalence vs a driver-side reference") {
    val L = 4
    val rnd = new scala.util.Random(20260813)
    val vocab = Vector("k1", "k2", "k3", "k4", "k5", "k6")
    val corpus = (0L until 40L).map { id =>
      val n = 4 + rnd.nextInt(27)
      (id, Vector.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }
    // reference: literal restatement of the semantics over (gram → occurrences)
    val toks = corpus.map { case (id, t) =>
      id -> t.split("\\s+").filter(_.nonEmpty).toVector }.toMap
    val occs = toks.toSeq.flatMap { case (id, ts) =>
      (0 to ts.length - L).map(p => (ts.slice(p, p + L).mkString(" "), id, p)) }
    val bad = occs.groupBy(_._1).values.filter(_.size > 1).flatMap { os =>
      val first = os.map(o => (o._2, o._3)).min
      os.collect { case (_, id, p) if (id, p) != first => (id, p) }
    }.toSet
    val expected = corpus.map { case (id, _) =>
      val ts = toks(id)
      val cov = ts.indices.filter(p =>
        ((p - L + 1).max(0) to p).exists(s => bad.contains((id, s)))).toSet
      id -> ((ts.indices.filterNot(cov).map(ts).mkString(" "),
        ts.length.toLong, cov.size.toLong))
    }.toMap
    val got = DedupFunctions
      .exactSubstrDedup(corpus.toDF("doc_id", "text"), "doc_id", "text", minSpan = L)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got == expected,
      (got.toSeq.sortBy(_._1) zip expected.toSeq.sortBy(_._1))
        .filter { case (a, b) => a != b }.take(3).toString)
    // sanity: the fixture actually exercised removal
    assert(expected.values.exists(_._3 > 0), "fixture produced no duplicated spans")
  }

  test("negativeSample: k cross-domain picks per anchor, per-anchor permutations, deterministic") {
    val corpus = (0L until 60L)
      .map(i => (i, if (i % 3 == 0) "a" else if (i % 3 == 1) "b" else "c"))
      .toDF("doc_id", "source")
    val anchors = corpus.filter($"doc_id" < 6)
    val got = Sampling.negativeSample(anchors, "doc_id", "source",
        corpus, "doc_id", "source", k = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    // every anchor gets exactly k, never from its own domain, ranks 1..k
    val byAnchor = got.groupBy(_._1)
    assert(byAnchor.keySet == (0L until 6L).toSet)
    byAnchor.foreach { case (a, rows) =>
      assert(rows.length == 4 && rows.map(_._4).sorted.toSeq == Seq(1L, 2L, 3L, 4L))
      val aDom = if (a % 3 == 0) "a" else if (a % 3 == 1) "b" else "c"
      assert(rows.forall(_._3 != aDom), s"anchor $a drew own-domain negative")
    }
    // brute-force reference: md5(anchor:cand) rank over the pair space
    val expect = corpus.as("c").crossJoin(anchors.select($"doc_id".as("aid"), $"source".as("ad")))
      .filter($"source" =!= $"ad")
      .select($"aid", $"doc_id",
        md5(concat($"aid".cast("string"), lit(":"), $"doc_id".cast("string"))).as("h"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      .groupBy(_._1).toSeq.flatMap { case (a, rs) =>
        rs.sortBy(r => (r._3, r._2)).take(4).zipWithIndex
          .map { case ((_, c, _), i) => (a, c, i + 1L) }
      }.toSet
    assert(got.map(t => (t._1, t._2, t._4)).toSet == expect)
    // anchors must not share a systematic negative order: the rank-1 pick
    // differs across at least some anchors
    assert(byAnchor.values.map(_.minBy(_._4)._2).toSet.size > 1)
  }

  test("tokenBudgetSample: greedy md5-order prefix per group, budget-0 groups drop") {
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    // token counts 1..6 across two budgeted groups and one unbudgeted
    val docs = (1L to 18L).map { id =>
      (id, Seq("a", "b", "c")((id % 3).toInt), ("t " * (1 + (id % 6)).toInt).trim)
    }
    val budgets = Map("a" -> 7L, "b" -> 4L)
    val expected = docs.groupBy(_._2).toSeq.flatMap { case (g, ds) =>
      val budget = budgets.getOrElse(g, 0L)
      val ordered = ds.sortBy { case (id, _, _) => (md5hex(id.toString), id) }
      ordered.foldLeft((0L, Vector.empty[(Long, String, Long, Long)])) {
        case ((cum, acc), (id, _, t)) =>
          val n = t.split(" ").count(_.nonEmpty).toLong
          (cum + n, if (cum < budget) acc :+ ((id, g, n, cum)) else acc)
      }._2
    }.toSet
    val got = Sampling.tokenBudgetSample(
        docs.toDF("doc_id", "source", "text"), "doc_id", "text", "source", budgets)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
    assert(got == expected, s"got $got\nexpected $expected")
    assert(!got.exists(_._2 == "c"), "unbudgeted group must drop entirely")
    // the greedy contract: budget overshoots by at most the last doc
    for (g <- Seq("a", "b")) {
      val kept = got.filter(_._2 == g).toSeq.sortBy(_._4)
      assert(kept.nonEmpty)
      val total = kept.map(_._3).sum
      assert(kept.last._4 < budgets(g) && total >= budgets(g).min(
        docs.filter(_._2 == g).map(_._3.split(" ").length.toLong).sum))
    }
  }

  test("tokenBudgetSample: NULL text rides along as a zero-token doc (never silently dropped)") {
    // NULL is neither matched nor rejected by the blank-text rlike (SQL
    // three-valued logic) — the operator must route it into the zeros
    // branch explicitly, the shardAssign/q120-oracle contract
    val docs = Seq(
      (1L, "a", "one two three"),
      (2L, "a", null.asInstanceOf[String]),
      (3L, "a", "   "),
      (4L, "a", "four five")).toDF("doc_id", "source", "text")
    val got = Sampling.tokenBudgetSample(docs, "doc_id", "text", "source",
        Map("a" -> 100L))
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(got.keySet == Set(1L, 2L, 3L, 4L), s"all docs kept under budget: $got")
    assert(got(2L) == 0L && got(3L) == 0L, "NULL and blank text count zero tokens")
  }

  test("weightedSample: A-Res selection matches driver-side reference; exact k; rank order") {
    val docs = (1L to 200L).map(id => (id, 1L + id % 17)) // weights 1..17
    val df = docs.toDF("doc_id", "w")
    val k = 25
    // reference: same u = (xxh64(id) mod 2^48 + 1)/2^48 (hashes read back
    // from the engine's own xxhash64 so the reference only re-implements
    // the SELECTION, not the hash), keys ln(u)/w, top-k
    val hashes = df.select($"doc_id", xxhash64($"doc_id".cast("string")).as("h"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val two48 = 281474976710656L
    val expected = docs.map { case (id, w) =>
      val m = ((hashes(id) % two48) + two48) % two48
      val u = (m + 1).toDouble / two48.toDouble
      (id, w, math.log(u) / w.toDouble)
    }.sortBy { case (id, _, key) => (-key, id) }.take(k)
      .zipWithIndex.map { case ((id, w, _), i) => (id, w, (i + 1).toLong) }
    val got = Sampling.weightedSample(df, "doc_id", $"w", k)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._3).toSeq
    assert(got == expected, s"got $got\nexpected $expected")
    // determinism across invocations (fresh plan, different partitioning)
    val again = Sampling.weightedSample(df.repartition(7), "doc_id", $"w", k)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._3).toSeq
    assert(again == expected, "selection must be partitioning-independent")
  }

  test("weightedSampleByGroup: independent per-group draws match per-group weightedSample") {
    val docs = (1L to 90L).map(id => (id, Seq("a", "b", "c")((id % 3).toInt), 1L + id % 7))
    val df = docs.toDF("doc_id", "grp", "w")
    val got = Sampling.weightedSampleByGroup(df, "doc_id", "grp", $"w", 5)
      .collect().map(r => (r.getString(1), r.getLong(0), r.getLong(2), r.getLong(3)))
      .groupBy(_._1).view.mapValues(_.map(t => (t._2, t._3, t._4)).sortBy(_._3).toSeq).toMap
    // stratification contract: each group's draw IS that group's solo draw
    for (g <- Seq("a", "b", "c")) {
      val solo = Sampling.weightedSample(df.filter($"grp" === g), "doc_id", $"w", 5)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._3).toSeq
      assert(got(g) == solo, s"group $g: ${got(g)} vs solo $solo")
    }
  }

  test("unimaxAllocation: small languages cap, leftover splits evenly, never over-epochs") {
    // nat tokens: a=10, b=20, c=100 (one doc each of w-repeated text)
    val docs = Seq(
      (1L, "a", Seq.fill(10)("w").mkString(" ")),
      (2L, "b", Seq.fill(20)("w").mkString(" ")),
      (3L, "c", Seq.fill(100)("w").mkString(" "))).toDF("doc_id", "lang", "text")
    def alloc(budget: Long, e: Long): Map[String, (Long, Boolean)] =
      Sampling.unimaxAllocation(docs, "lang", "text", budget, e).collect()
        .map(r => r.getString(0) -> (r.getLong(5), r.getBoolean(4))).toMap
    // E=2: caps a=20, b=40, c=200. B=120: a capped (20*3=60<=120),
    // b capped (40*2=80<=100), c uncapped -> 120-60=60
    assert(alloc(120L, 2L) == Map(
      "a" -> (20L, true), "b" -> (40L, true), "c" -> (60L, false)))
    // B=30: a's cap 20*3=60 > 30 -> nobody capped, even split 10 each
    assert(alloc(30L, 2L) == Map(
      "a" -> (10L, false), "b" -> (10L, false), "c" -> (10L, false)))
    // B huge: everyone capped at E*nat (never over-epochs)
    assert(alloc(10000L, 2L) == Map(
      "a" -> (20L, true), "b" -> (40L, true), "c" -> (200L, true)))
    // floor-division leftover: B=121 -> c gets 61; B=122 -> 62
    assert(alloc(121L, 2L)("c")._1 == 61L)
    // allocation never exceeds the budget
    for (b <- Seq(7L, 55L, 121L, 359L))
      assert(alloc(b, 2L).values.map(_._1).sum <= b, s"overshoot at B=$b")
  }

  test("temperatureQuotas: sums to budget, alpha=1 is proportional, alpha<1 flattens") {
    // skewed domains: 60/30/10
    val docs = ((1L to 60L).map((_, "web")) ++ (61L to 90L).map((_, "code")) ++
      (91L to 100L).map((_, "math"))).toDF("doc_id", "domain")
    def quotas(alpha: Double) = Sampling.temperatureQuotas(docs, "domain", alpha, 50L)
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    val prop = quotas(1.0)
    assert(prop.values.sum == 50L, s"largest-remainder must hit the budget: $prop")
    assert(prop == Map("web" -> 30L, "code" -> 15L, "math" -> 5L), prop.toString)
    val flat = quotas(0.3)
    assert(flat.values.sum == 50L, flat.toString)
    // alpha<1: the big domain gives up share, the small one gains
    assert(flat("web") < prop("web") && flat("math") > prop("math"),
      s"alpha=0.3 must flatten: $flat vs $prop")
    // driver-side reference for the full apportionment arithmetic
    val n = Map("web" -> 60L, "code" -> 30L, "math" -> 10L)
    val p9 = n.view.mapValues(c =>
      math.round(math.pow(c.toDouble / 100.0, 0.3) * 1e9)).toMap
    val sp = p9.values.sum
    val base = p9.view.mapValues(v => 50L * v / sp).toMap
    val rem = p9.map { case (d, v) => d -> 50L * v % sp }
    val k = 50L - base.values.sum
    val seats = rem.toSeq.sortBy { case (d, r) => (-r, d) }.take(k.toInt).map(_._1).toSet
    val expect = base.map { case (d, b) => d -> (b + (if (seats(d)) 1L else 0L)) }
    assert(flat == expect, s"$flat vs reference $expect")
  }

  test("temperatureMix: md5-order draw honors quotas; small domains cap at their size") {
    val docs = ((1L to 40L).map((_, "web")) ++ (41L to 43L).map((_, "tiny")))
      .toDF("doc_id", "domain")
    val picked = Sampling.temperatureMix(docs, "doc_id", "domain", alpha = 0.5, budget = 20L)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val byDom = picked.groupBy(_._2)
    // quota respected per domain; a domain smaller than its quota gives all
    byDom.foreach { case (d, rows) =>
      assert(rows.length <= rows.head._3, s"$d over quota")
    }
    assert(byDom("tiny").length == 3, "tiny domain must contribute everything it has")
    // reproducible: the same call returns the identical id set
    val again = Sampling.temperatureMix(
        docs.repartition(7), "doc_id", "domain", alpha = 0.5, budget = 20L)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(picked.sortBy(_._1).toSeq == again.sortBy(_._1).toSeq)
  }

  test("dsirScores: log-likelihood-ratio scores match driver-side reference") {
    val docs = Seq(
      (1L, "en", "the cat sat on the mat"),
      (2L, "en", "the dog ate the food"),
      (3L, "de", "der hund und die katze"),
      (4L, "de", "the cat und der mat"), // mixed: mid score
      (5L, "es", "")) // zero tokens: dropped
      .toDF("doc_id", "lang", "text")
    val b = 64
    // reference re-implements the MODEL (counts + smoothing + ln ratio)
    // over engine-read bucket ids, so it is independent of the Spark plan
    val inst = docs.select($"doc_id", $"lang",
        explode(TextFunctions.tokens(lower($"text"))).as("w"))
      .select($"doc_id", $"lang", pmod(xxhash64($"w"), lit(b.toLong)).as("bkt"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    val cr = inst.groupBy(_._3).view.mapValues(_.size.toLong).toMap
    val ct = inst.filter(_._2 == "en").groupBy(_._3).view.mapValues(_.size.toLong).toMap
    val (tr, tt) = (inst.size.toLong, inst.count(_._2 == "en").toLong)
    def lr(bkt: Long): Double =
      math.log((ct.getOrElse(bkt, 0L) + 1).toDouble / (tt + b).toDouble) -
        math.log((cr(bkt) + 1).toDouble / (tr + b).toDouble)
    val expected = inst.groupBy(_._1).view.mapValues { rows =>
      BigDecimal(rows.map(r => lr(r._3)).sum)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }.toMap
    val got = ImportanceSampling.dsirScores(docs, "doc_id", "text",
        isTarget = $"lang" === "en", buckets = b)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got.keySet == Set(1L, 2L, 3L, 4L), s"got keys ${got.keySet}")
    for ((id, s) <- expected) assert(math.abs(got(id) - s) < 1e-9, s"doc $id: ${got(id)} vs $s")
    // targets score above non-targets; the mixed doc lands between
    assert(got(1L) > got(4L) && got(2L) > got(4L), "pure-target docs must outrank mixed")
    assert(got(4L) > got(3L), "mixed doc must outrank pure-raw")
  }

  test("scalarQuantizedTopK: integer scores match driver reference; codes bounded") {
    val vecs = (0L until 40L).map { id =>
      (id, Array.tabulate(8)(d => math.sin(id * 1.7 + d * 0.9) * (d + 1)))
    }
    val df = vecs.toDF("vec_id", "v")
    val queries = df.filter($"vec_id" < 3)
    val got = Similarity.scalarQuantizedTopK(queries, "vec_id", df, "vec_id", "v", k = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(t => (t._1, t._4)).toSeq
    // driver reference: same scales / floor(x/s*127+0.5) codes / int dot
    val scales = (0 until 8).map(d => vecs.map(v => math.abs(v._2(d))).max)
      .map(s => if (s == 0.0) 1.0 else s)
    def code(v: Array[Double]): Array[Long] =
      v.zipWithIndex.map { case (x, d) => math.floor(x / scales(d) * 127.0 + 0.5).toLong }
    val codes = vecs.map { case (id, v) => id -> code(v) }.toMap
    assert(codes.values.flatten.forall(c => c >= -127L && c <= 127L))
    val expected = (0L until 3L).flatMap { q =>
      vecs.filter(_._1 != q).map { case (c, _) =>
        (q, c, codes(q).zip(codes(c)).map { case (a, b2) => a * b2 }.sum)
      }.sortBy { case (_, c, s) => (-s, c) }.take(4)
        .zipWithIndex.map { case ((qq, c, s), i) => (qq, c, s, (i + 1).toLong) }
    }.toSeq
    assert(got == expected, s"got $got\nexpected $expected")
  }

  test("collocations: planted bigram dominates; lift matches a driver reference") {
    // "data pipeline" co-occurs in every doc; filler words are common
    // everywhere, so the planted pair's lift must rank first
    val docs = (0L until 30L).map { i =>
      (i, s"the data pipeline runs w$i and the run w${i % 3} ends")
    }.toDF("doc_id", "text")
    val got = TextFunctions.collocations(docs, "doc_id", "text",
      window = 2, minCount = 5L, k = 5).collect()
      .map(r => (r.getAs[String]("wa"), r.getAs[String]("wb"),
        r.getAs[Long]("pair_cnt"), r.getAs[Long]("lift6"), r.getAs[Long]("rank")))
    // several window-2 pairs tie at the max lift (every-doc pairs over
    // count-30 words): rank 1 is the alphabetically first of the tie set,
    // and the planted pair carries the same maximal lift
    val top = got.find(_._5 == 1L).get
    val dpLift = got.find(p => Set(p._1, p._2) == Set("data", "pipeline")).get._4
    assert(top._4 == got.map(_._4).max && dpLift == top._4, s"top pair: $top")
    // driver check of one lift: pair (data, pipeline) occurs 30x,
    // cnt(data)=30, cnt(pipeline)=30, N = total tokens
    val n = docs.collect().map(_.getString(1).split("\\s+").count(_.nonEmpty)).sum
    val dp = got.find(p => Set(p._1, p._2) == Set("data", "pipeline")).get
    assert(dp._3 == 30L && dp._4 == 30L * n * 1000000L / (30L * 30L))
  }

  test("binaryQuantTopK refuses vectors past 64 dims (silent recall loss otherwise)") {
    val big = Seq((1L, Array.fill(80)(0.5f)), (2L, Array.fill(80)(-0.5f)))
      .toDF("vec_id", "v")
    val ex = intercept[IllegalArgumentException] {
      Similarity.binaryQuantTopK(big, "vec_id", big, "vec_id", "v", m = 2, k = 1)
    }
    assert(ex.getMessage.contains("80 dims"))
    // RAGGED column: a compliant FIRST row must not mask a later oversized
    // vector (ADVICE r15 — the guard aggregates max(size) over the side)
    val ragged = Seq((1L, Array.fill(8)(0.5f)), (2L, Array.fill(80)(-0.5f)))
      .toDF("vec_id", "v")
    val exR = intercept[IllegalArgumentException] {
      Similarity.binaryQuantTopK(ragged, "vec_id", ragged, "vec_id", "v", m = 2, k = 1)
    }
    assert(exR.getMessage.contains("80 dims"))
    // a NULL vector row neither NPEs nor trips the guard
    val withNull = Seq((1L, Array.fill(8)(0.5f)), (2L, null: Array[Float]),
      (3L, Array.fill(8)(1f))).toDF("vec_id", "v")
    assert(Similarity.binaryQuantTopK(withNull.filter(col("v").isNotNull),
      "vec_id", withNull.filter(col("v").isNotNull), "vec_id", "v",
      m = 2, k = 1).count() >= 1)
    assert(Similarity.binaryQuantTopK(withNull, "vec_id",
      withNull, "vec_id", "v", m = 2, k = 1).count() >= 1)
  }

  test("binaryQuantTopK: codes/hamming/dot match a driver bit reference; rank order exact") {
    val vecs = (0L until 50L).map { id =>
      (id, Array.tabulate(64)(d => math.sin(id * 2.3 + d * 0.7)).map(_.toFloat))
    }
    val df = vecs.toDF("vec_id", "v")
    val got = Similarity.binaryQuantTopK(
      df.filter($"vec_id" < 3), "vec_id", df, "vec_id", "v", m = 16, k = 5)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"),
        r.getAs[Long]("hamming"), r.getAs[Long]("dot12"), r.getAs[Long]("rank")))
      .sortBy(t => (t._1, t._5)).toSeq
    def code(v: Array[Float]): (Long, Long) = {
      var lo = 0L; var hi = 0L
      for (d <- 0 until 32) if (v(d) > 0) lo |= (1L << d)
      for (d <- 32 until 64) if (v(d) > 0) hi |= (1L << (d - 32))
      (lo, hi)
    }
    def e6(v: Array[Float]): Array[Long] =
      v.map(x => math.floor(x.toDouble * 1e6 + 0.5).toLong)
    val codes = vecs.map { case (id, v) => id -> code(v) }.toMap
    val e6s = vecs.map { case (id, v) => id -> e6(v) }.toMap
    val expected = (0L until 3L).flatMap { q =>
      val short = vecs.filter(_._1 != q).map { case (c, _) =>
        val h = java.lang.Long.bitCount(codes(q)._1 ^ codes(c)._1) +
          java.lang.Long.bitCount(codes(q)._2 ^ codes(c)._2)
        (c, h.toLong)
      }.sortBy { case (c, h) => (h, c) }.take(16)
      short.map { case (c, h) =>
        (c, h, e6s(q).zip(e6s(c)).map { case (a, b) => a * b }.sum)
      }.sortBy { case (c, _, dot) => (-dot, c) }.take(5)
        .zipWithIndex.map { case ((c, h, dot), i) => (q, c, h, dot, (i + 1).toLong) }
    }.toSeq
    assert(got == expected, s"got $got\nexpected $expected")
  }

  test("jlTopKReranked: projections match driver reference; rerank recovers most of exact top-5") {
    val emb = Tables.embeddings(spark, sfDir)
    val qs = emb.filter($"vec_id" < 10)
    // projection parity: engine pv == driver-side literal-plane dot / 4
    val planes = Similarity.planeLiterals(16, 64, table = 1)
      .map(_.stripPrefix("[").stripSuffix("]").split(",").map(_.trim.toDouble))
    val one = emb.filter($"vec_id" === 0)
      .select($"embedding", Similarity.jlProject($"embedding", 16, 64).as("pv"))
      .collect().head
    val v = one.getSeq[Float](0).map(_.toDouble).toArray
    val pv = one.getSeq[Double](1).toArray
    val want = planes.map(p => p.zip(v).map { case (a, b) => a * b }.sum / 4.0)
    pv.zip(want).foreach { case (g, w) => assert(math.abs(g - w) < 1e-9, s"$g vs $w") }
    // recall: JL's distortion bound O(sqrt(ln n / outDim)) only separates
    // neighbors that ARE similar — so plant 10 clusters of genuinely-close
    // vectors (cos ≈ 0.95 within, ≈ random across) and require the
    // 20-shortlist + exact re-rank to recover (almost) all of exact top-5.
    // (On the deliberately near-orthogonal `embeddings` corpus 16 dims is
    // too coarse by design — the LSH regime note applies to JL too.)
    val rng = new scala.util.Random(7)
    val centers = Array.fill(10)(Array.fill(64)(rng.nextGaussian()))
    val clustered = (0L until 100L).map { id =>
      val c = centers((id % 10).toInt)
      (id, c.map(x => (x + 0.15 * rng.nextGaussian()).toFloat))
    }.toDF("vec_id", "embedding")
    val cq = clustered.filter($"vec_id" < 10)
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val exact = pairs(Similarity.bruteForceTopK(cq, "vec_id", clustered, "vec_id", "embedding", 5))
    val jl = pairs(Similarity.jlTopKReranked(cq, "vec_id", clustered, "vec_id", "embedding", 5, 20))
    assert((jl & exact).size >= 45, s"JL-rerank recall too low: ${(jl & exact).size}/50")
  }

  test("nearDupEditDistance: equals naive all-pairs within blocks; gate never drops a match") {
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) => if (i == 0) j else if (j == 0) i else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val docs = Seq(
      (1L, "g1", "the quick brown fox jumps over the lazy dog"),
      (2L, "g1", "the quick brown fox jumped over the lazy dog"), // 2 edits
      (3L, "g1", "a completely different document body here with nothing shared"),
      (4L, "g2", "the quick brown fox jumps over the lazy dog"), // other block
      (5L, "g2", "the quick brown fox jumps over the lazy dog"), // exact dup of 4
      (6L, "g1", "short"))
      .toDF("doc_id", "blk", "text")
    val maxDist = 5
    val got = DedupFunctions.nearDupEditDistance(docs, "doc_id", "text",
        blockCols = Seq("blk"), prefixLen = 64, maxDist = maxDist)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val rows = docs.collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val expected = (for {
      a <- rows; b2 <- rows
      if a._2 == b2._2 && a._1 < b2._1
      d = lev(a._3.take(64), b2._3.take(64))
      if d <= maxDist
    } yield (a._1, b2._1, d.toLong)).toSet
    assert(got == expected, s"got $got\nexpected $expected")
    assert(got.contains((1L, 2L, 2L)), "near pair must surface with its exact distance")
    assert(got.contains((4L, 5L, 0L)), "exact dup in its own block")
    assert(!got.exists(p => Set(p._1, p._2) == Set(1L, 4L)), "no cross-block pairs")
  }

  test("chunking: sliding windows with overlap match hand computation") {
    // 10 tokens, chunk=4 overlap=1 → stride 3, starts below max(10-1,1):
    // 0,3,6 → [t1..t4] [t4..t7] [t7..t10]; a start at 9 would yield [t10],
    // a strict subset of the previous window — suppressed by design
    val toks = (1 to 10).map(i => s"t$i")
    val df = Seq((1L, toks.mkString(" ")), (2L, ""), (3L, "solo"))
      .toDF("doc_id", "text")
    val got = TextFunctions.chunkDocs(df, "doc_id", "text",
        chunkTokens = 4, overlapTokens = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
      .sortBy(t => (t._1, t._2)).toSeq
    val expected = Seq(
      (1L, 0L, "t1 t2 t3 t4", 4L),
      (1L, 1L, "t4 t5 t6 t7", 4L),
      (1L, 2L, "t7 t8 t9 t10", 4L),
      (3L, 0L, "solo", 1L)) // empty doc 2 produces no chunks
    assert(got == expected, s"got $got")
    // zero overlap: chunks partition the tokens exactly
    val flat = TextFunctions.chunkDocs(df.filter($"doc_id" === 1L), "doc_id",
        "text", chunkTokens = 4, overlapTokens = 0)
      .agg(sum($"n_tokens")).head.getLong(0)
    assert(flat == 10L)
    // carryCols ride through to every chunk row (single-pass attribution)
    val carried = TextFunctions.chunkDocs(
        df.withColumn("src", concat(lit("s"), $"doc_id")), "doc_id", "text",
        chunkTokens = 4, overlapTokens = 1, carryCols = Seq("src"))
      .select($"doc_id", $"src", $"chunk_id").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(carried.length == 4 && carried.forall { case (id, s) => s == s"s$id" })
    // reserved-name collisions are rejected up front, not silently clobbered
    intercept[IllegalArgumentException] {
      TextFunctions.chunkDocs(df.withColumn("chunk_id", lit(1)), "doc_id",
        "text", chunkTokens = 4, overlapTokens = 1, carryCols = Seq("chunk_id"))
    }
  }

  test("dedupBoilerplateLines: shared lines drop, unique lines survive in order") {
    import spark.implicits._
    val banner = "accept cookies"
    val docs = Seq(
      (1L, s"$banner\nunique alpha\n\n  \nshared tail"),
      (2L, s"$banner\nunique beta\nshared tail"),
      (3L, s"$banner\nunique gamma"),
      (4L, s"$banner\nshared tail"), // both lines boilerplate → disappears
      (5L, banner)                   // pure boilerplate: must disappear
    ).toDF("doc_id", "text")
    // banner in 5 docs ≥ 3 → drops; 'shared tail' in 3 docs ≥ 3 → drops;
    // blank/whitespace lines always drop
    val out = DedupFunctions.dedupBoilerplateLines(docs, "doc_id", "text", minDupDocs = 3)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2), r.getLong(3))).toMap
    assert(out.keySet == Set(1L, 2L, 3L)) // 4 and 5 are pure boilerplate
    assert(out(1L) == (("unique alpha", 1L, 2L)))
    assert(out(2L) == (("unique beta", 1L, 2L)))
    assert(out(3L) == (("unique gamma", 1L, 1L)))
  }

  test("dedupBoilerplateLines: below-threshold repeats and in-doc repeats survive") {
    import spark.implicits._
    val docs = Seq(
      (1L, "twice seen\nown repeat\nown repeat"),
      (2L, "twice seen\nother content here")
    ).toDF("doc_id", "text")
    // 'twice seen' is in only 2 distinct docs < 3 → kept; a line repeated
    // within ONE doc counts once toward the distinct-doc threshold
    val out = DedupFunctions.dedupBoilerplateLines(docs, "doc_id", "text", minDupDocs = 3)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == "twice seen\nown repeat\nown repeat")
    assert(out(2L) == "twice seen\nother content here")
  }

  test("pplBuckets: grid terciles per language; equal-score cells stay atomic") {
    import spark.implicits._
    val scored = (
      Seq(1.0, 1.0, 1.0, 2.0, 3.0, 3.0, 4.0, 5.0, 6.0).zipWithIndex
        .map { case (p, i) => (i.toLong, "xx", p) } ++
      Seq(1.0, 1.0, 1.0, 1.0, 2.0, 3.0).zipWithIndex
        .map { case (p, i) => (100L + i, "yy", p) }
    ).toDF("doc_id", "lang", "log_ppl")
    val out = NgramLm.pplBuckets(scored, "lang", "log_ppl")
      .collect()
      .map(r => (r.getAs[String]("lang"), r.getAs[Double]("log_ppl")) ->
        r.getAs[String]("bucket")).toMap
    // xx: 9 docs → exact thirds on this grid
    assert(out(("xx", 1.0)) == "head")
    assert(out(("xx", 2.0)) == "middle" && out(("xx", 3.0)) == "middle")
    assert(Seq(4.0, 5.0, 6.0).forall(p => out(("xx", p)) == "tail"))
    // yy: the 4-doc ppl-1.0 cell overflows the tercile but stays ATOMIC
    // (equal scores can never straddle a bucket boundary)
    assert(out(("yy", 1.0)) == "head")
    assert(out(("yy", 2.0)) == "tail" && out(("yy", 3.0)) == "tail")
  }

  test("dedupBoilerplateLines: broadcast-boiler lever matches the shuffled join, and broadcasts") {
    import spark.implicits._
    val docs = (0L until 40L).map(i =>
      (i, s"shared banner line\nunique content $i\nshared footer line")).toDF("doc_id", "text")
    def run(hint: Boolean) = DedupFunctions
      .dedupBoilerplateLines(docs, "doc_id", "text", minDupDocs = 10, broadcastBoiler = hint)
    val a = run(false).collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val b = run(true).collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(a == b)
    assert(a.forall { case (i, t) => t == s"unique content $i" })
    val plan = run(true).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("mmrTopK: matches a driver-side reference greedy; lambda=1000 degenerates to top-k") {
    import spark.implicits._
    import graft.functions.Similarity
    val rnd = new scala.util.Random(3)
    val vecs = (0L until 60L).map(i =>
      (i, Array.fill(8)(rnd.nextGaussian().toFloat))).toDF("vec_id", "embedding")
    val got = Similarity.mmrTopK(
        vecs.filter(col("vec_id") < 3), "vec_id", vecs, "vec_id", "embedding",
        m = 12, k = 5, lambdaPermille = 600)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))

    // driver reference: same round6→micros contract, brute force
    val data = vecs.collect().map(r =>
      (r.getLong(0), r.getSeq[Float](1).toArray)).toMap
    def cos6(a: Array[Float], b: Array[Float]): Long = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) {
        d += a(i).toDouble * b(i).toDouble
        na += a(i).toDouble * a(i).toDouble; nb += b(i).toDouble * b(i).toDouble
      }
      val c = BigDecimal(d / (math.sqrt(na) * math.sqrt(nb)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      math.floor(c * 1000000.0 + 0.5).toLong
    }
    val expect = (0L until 3L).flatMap { q =>
      val short = data.keys.filter(_ != q).toSeq
        .map(c => (c, cos6(data(q), data(c))))
        .sortBy { case (c, r) => (-r, c) }.take(12)
      val rel = short.toMap
      var sel = List.empty[Long]
      (1 to 5).map { rank =>
        val (best, obj) = short.map(_._1).filterNot(sel.contains).map { c =>
          val pen = if (sel.isEmpty) 0L
            else sel.map(s0 => cos6(data(c), data(s0))).max
          (c, 600L * rel(c) - 400L * pen)
        }.minBy { case (c, o) => (-o, c) }
        sel = sel :+ best
        (q, rank.toLong, best, obj)
      }
    }
    assert(got.toSeq.sorted == expect.sorted)

    // lambda=1000: penalty weight 0 ⇒ exactly the brute-force top-k order
    val pure = Similarity.mmrTopK(
        vecs.filter(col("vec_id") < 3), "vec_id", vecs, "vec_id", "embedding",
        m = 12, k = 5, lambdaPermille = 1000)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val topk = Similarity.bruteForceTopK(
        vecs.filter(col("vec_id") < 3), "vec_id", vecs, "vec_id", "embedding", k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(3), r.getLong(1)))
    assert(pure.toSet == topk.toSet)
    // diversification really changes the set on clustered data: plant two
    // tight clusters, relevance favors cluster A, MMR must still reach B
    val base = Array.fill(8)(1.0f)
    val cl = ((0L to 0L).map(i => (i, base)) ++
      (1L to 6L).map(i => (i, base.map(x => x + (i * 1e-4f)))) ++
      (7L to 9L).map(i => (i, base.map(x => -x + (i * 1e-4f))))).toDF("vec_id", "embedding")
    val div = Similarity.mmrTopK(cl.filter(col("vec_id") === 0L), "vec_id",
        cl, "vec_id", "embedding", m = 9, k = 3, lambdaPermille = 300)
      .select("vec_id").as[Long].collect().toSet
    assert(div.exists(_ >= 7L), s"MMR at low lambda must pick from the far cluster, got $div")
  }

  test("groupSplit: dup groups are split-atomic, singletons match the per-doc shape, percents gate") {
    import spark.implicits._
    import graft.functions.Sampling
    // 50 groups of 4 near-dup members + 100 singletons
    val labels = ((0L until 200L).map(i => (i, i / 4)) ++
      (1000L until 1100L).map(i => (i, i))).toDF("doc_id", "component_id")
    val out = Sampling.groupSplit(labels, "component_id")
      .select("doc_id", "component_id", "bucket", "split")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    // atomicity: every member of a group gets the identical (bucket, split)
    out.groupBy(_._2).foreach { case (_, members) =>
      assert(members.map(m => (m._3, m._4)).distinct.size == 1,
        s"group ${members.head._2} straddles splits: ${members.toSeq}")
    }
    // bucket is the q43 arithmetic on the GROUP id's decimal string
    val expected = out.map { case (_, g, _, _) =>
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(g.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(4)
      java.lang.Long.parseLong(hex, 16) % 100
    }
    assert(out.map(_._3).toSeq == expected.toSeq)
    // all three splits materialize over 150 groups at 80/10/10
    assert(out.map(_._4).toSet == Set("train", "valid", "test"))
    intercept[IllegalArgumentException](
      Sampling.groupSplit(labels, "component_id", trainPct = 90, validPct = 10))
  }

  test("IvfAssign expression matches the composed sort_array argmax bit-for-bit") {
    import org.apache.spark.sql.Column
    import graft.expressions.{IvfAssign, VecDot}
    val emb = Tables.embeddings(spark, sfDir)
    val cents = Similarity.trainCentroids(emb, "vec_id", "embedding",
      nlist = 16, iters = 1)
    val nv = emb.select($"embedding".as("__v"))
      .withColumn("__n", sqrt(VecDot($"__v", $"__v")))
    // the composed-builtin form IvfAssign replaced (r17): nlist literal
    // struct(sim, neg_id) scores, sort_array desc + slice — ties to the
    // lowest centroid id
    def composed(cs: Array[(Long, Array[Double], Double)], n: Int): Column = {
      val simStructs = cs.map { case (id, v, nrm) =>
        struct((VecDot($"__v", typedLit(v)) / ($"__n" * lit(nrm))).as("sim"),
          lit(-id).as("neg_id"))
      }
      transform(slice(sort_array(array(simStructs.toIndexedSeq: _*), asc = false), 1, n),
        c => -c("neg_id"))
    }
    for (n <- Seq(1, 4)) {
      val cmp = nv.select(
        IvfAssign($"__v", $"__n", cents, n).as("e"),
        composed(cents, n).as("c")).collect()
      assert(cmp.nonEmpty)
      cmp.foreach { r =>
        assert(r.getSeq[Long](0) == r.getSeq[Long](1),
          s"assignment diverged at n=$n: $r")
      }
    }
    // constructed tie: centroids 0 and 1 identical — every row's best two
    // must come back as (id0, id1) in id order
    val dup = cents.updated(1, (cents(1)._1, cents(0)._2.clone(), cents(0)._3))
    val tied = nv.limit(20).select(
      IvfAssign($"__v", $"__n", dup, 2).as("e"),
      composed(dup, 2).as("c")).collect()
    tied.foreach { r =>
      assert(r.getSeq[Long](0) == r.getSeq[Long](1), s"tie diverged: $r")
    }
  }

  test("PqCodes expression matches the composed-builtin argmax bit-for-bit") {
    import org.apache.spark.sql.Column
    import graft.expressions.{PqCodes, VecDot}
    val emb = Tables.embeddings(spark, sfDir)
    val model = ProductQuantization.train(emb, "vec_id", "embedding",
      m = 8, ks = 16, iters = 1)
    val nv = emb.select($"vec_id", $"embedding".as("__v"))
      .withColumn("__n", sqrt(VecDot($"__v", $"__v")))
    // the composed-builtin form PqCodes replaced (r17): m·ks literal VecDot
    // scores, argmax via array_position(array_max) — tie to the lowest code
    def composedCode(j: Int): Column = {
      val scored = model.codebooks(j).map { c =>
        val half = 0.5 * c.foldLeft(0.0)((a, x) => a + x * x)
        VecDot(slice($"__v", j * model.subDim + 1, model.subDim), typedLit(c)) /
          $"__n" - lit(half)
      }
      val arr = array(scored.toIndexedSeq: _*)
      (array_position(arr, array_max(arr)) - 1).cast("int")
    }
    val composedPacked = (0 until model.m)
      .map(j => shiftleft(composedCode(j), 4 * j))
      .reduce((a, b) => a.bitwiseOR(b))
    val cmp = nv.select(
      PqCodes($"__v", $"__n", model.m, model.ks, model.subDim,
        model.codebooks, packed = true).as("ep"),
      composedPacked.as("cp"),
      PqCodes($"__v", $"__n", model.m, model.ks, model.subDim,
        model.codebooks, packed = false).as("ea"),
      array((0 until model.m).map(composedCode): _*).as("ca")).collect()
    assert(cmp.nonEmpty)
    cmp.foreach { r =>
      assert(r.getInt(0) == r.getInt(1), s"packed codes diverged: $r")
      assert(r.getSeq[Int](2) == r.getSeq[Int](3), s"code arrays diverged: $r")
    }
    // constructed tie: codewords 0 and 1 identical in every subspace — the
    // argmax must elect code 0 everywhere (array_position-of-max semantics)
    val dup = model.codebooks.map { cb => cb.updated(1, cb(0).clone()) }
    val tied = nv.limit(20).select(
      PqCodes($"__v", $"__n", model.m, model.ks, model.subDim, dup,
        packed = false).as("ea"),
      array((0 until model.m).map { j =>
        val scored = dup(j).map { c =>
          val half = 0.5 * c.foldLeft(0.0)((a, x) => a + x * x)
          VecDot(slice($"__v", j * model.subDim + 1, model.subDim), typedLit(c)) /
            $"__n" - lit(half)
        }
        val arr = array(scored.toIndexedSeq: _*)
        (array_position(arr, array_max(arr)) - 1).cast("int")
      }: _*).as("ca")).collect()
    tied.foreach { r =>
      assert(r.getSeq[Int](0) == r.getSeq[Int](1), s"tie handling diverged: $r")
      assert(!r.getSeq[Int](0).contains(1), s"tie must elect code 0, got: $r")
    }
  }
}
