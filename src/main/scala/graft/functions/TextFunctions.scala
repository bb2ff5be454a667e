package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines:
  * tokenization, token counting, quality scoring, language-ID heuristic,
  * document fingerprinting. They are composed from built-in
  * `org.apache.spark.sql.functions` plus a few custom expressions in
  * [[graft.expressions]] (no UDFs): the token count, the token-set
  * fingerprint and the one-pass gram statistics behind the repetition
  * and word signals. Each costs time linear in its document — at 100 TB
  * these run map-side with zero shuffle.
  */
object TextFunctions {

  /** Whitespace tokenization (split on runs of whitespace, drop empties).
    *
    * Deliberately the HOF spelling: `split` runs inside whole-stage
    * codegen (UTF8String fast path) and the filter lambda only touches
    * the short token array. A custom one-pass array Expression was
    * measured SLOWER here (q23 1.26→1.45 s, q51 1.53→1.84 s warm at
    * sf0.1): as a CodegenFallback it breaks the surrounding codegen
    * stage, which costs more than the regex it saves. The scalar
    * [[tokenCount]] is the opposite case — no array needs to exist at
    * all, so its codegen'd byte scan wins.
    */
  def tokens(text: Column): Column =
    filter(split(text, "\\s+"), t => length(t) > 0)

  /** Whitespace token count — a codegen'd single byte scan, byte-exact
    * with `size(tokens(text))` (see [[graft.expressions.TokenCountExpr]]).
    */
  def tokenCount(text: Column): Column =
    graft.expressions.TokenCountExpr.tokenCount(text)

  /** BPE-ish sub-word-ish token count: alpha runs, digit runs, and single
    * non-alphanumeric marks each count as one token (a cheap deterministic
    * stand-in for a real BPE vocab — the regex shape, not the merges).
    */
  def regexTokens(text: Column): Column =
    regexp_extract_all(text, lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"), lit(0))

  def regexTokenCount(text: Column): Column = size(regexTokens(text))

  /** Mean token length over whitespace tokens (0.0 for empty docs). */
  def avgTokenLen(text: Column): Column = {
    val t = tokens(text)
    when(size(t) === 0, lit(0.0))
      .otherwise(
        aggregate(t, lit(0L), (acc, x) => acc + length(x)).cast("double") / size(t))
  }

  /** Fraction of characters that are punctuation marks. */
  def punctRatio(text: Column): Column =
    when(length(text) === 0, lit(0.0))
      .otherwise(
        (length(text) - length(regexp_replace(text, "[.,!?;:]", ""))).cast("double")
          / length(text))

  /** Fraction of tokens that appear in `stopwords`. */
  def stopwordRatio(text: Column, stopwords: Seq[String]): Column = {
    val t = tokens(lower(text))
    val sw = lit(stopwords.toArray)
    when(size(t) === 0, lit(0.0))
      .otherwise(size(filter(t, x => array_contains(sw, x))).cast("double") / size(t))
  }

  /** Engine-portable 4-dp rounding: floor(x·10⁴ + ½)/10⁴ — every step is a
    * single IEEE double op, so any engine computes the identical bits
    * (Spark's `round` does exact-decimal HALF_UP, which disagrees with
    * C-style rounding on boundary values).
    */
  def round4(c: Column): Column = floor(c * 10000.0 + 0.5) / 10000.0

  /** Composite document-quality score in [0,1]: rewards mid-length docs with
    * function words; penalizes punctuation walls. Deterministic, heuristic.
    */
  def qualityScore(text: Column, stopwords: Seq[String]): Column = {
    val lenScore = least(tokenCount(text).cast("double") / lit(64.0), lit(1.0))
    val swScore = least(stopwordRatio(text, stopwords) * 5.0, lit(1.0))
    val punctPenalty = greatest(lit(0.0), lit(1.0) - punctRatio(text) * 5.0)
    round4(lenScore * 0.4 + swScore * 0.4 + punctPenalty * 0.2)
  }

  /** Language-ID heuristic: pick the language whose marker-word list covers
    * the largest fraction of the document's tokens (ties → lexicographically
    * first language code, deterministic). The PRODUCTION path is the
    * TRAINED char-n-gram classifier in [[LangId]] (multi-class averaged
    * perceptron, q126/q127) — this marker scaffold remains as the cheap
    * zero-model baseline with the same per-language-score + argmax shape,
    * and runs entirely map-side.
    */
  def langId(text: Column, markers: Map[String, Seq[String]]): Column = {
    val t = tokens(lower(text))
    val scored = markers.toSeq.sortBy(_._1).map { case (lang, words) =>
      val sw = lit(words.toArray)
      struct(
        size(filter(t, x => array_contains(sw, x))).cast("double").as("score"),
        lit(lang).as("lang"))
    }
    // argmax by (score, then reversed-lang so that ties pick the FIRST code)
    val best = scored.reduce((a, b) =>
      when(b.getField("score") > a.getField("score"), b).otherwise(a))
    when(size(t) === 0, lit("und")).otherwise(best.getField("lang"))
  }

  /** Canonical document fingerprint: md5 over the sorted distinct lowercase
    * token set — equal fingerprints ⟺ same bag-of-words modulo order and
    * multiplicity (catches shuffled/near-identical docs cheaply). Map-side
    * only; the fingerprint is then a cheap exact-dedup group key. JVM loop
    * per row ([[graft.expressions.TokenSetFingerprint]]) — the
    * array_sort∘array_distinct∘array_join composition is interpreted
    * per-element and ~50× slower.
    */
  def fingerprint(text: Column): Column =
    graft.expressions.TextHashExpressions.tokenSetFingerprint(tokens(lower(text)))

  /** PII patterns redacted by [[redactPii]], applied in order (email before
    * phone so a user-part digit run is consumed as part of the address;
    * SSN before phone so 3-2-4 digit groups never half-match the 3-3-4
    * phone shape; IP last). The patterns are the RE2-compatible subset
    * (no lookaround, no backrefs) so the SAME strings run on Spark (Java
    * regex) and any RE2 engine — portability the cross-engine oracle
    * exercises directly.
    */
  val piiPatterns: Seq[(String, String)] = Seq(
    ("[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "[EMAIL]"),
    ("\\b\\d{3}-\\d{2}-\\d{4}\\b", "[SSN]"),
    ("\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b", "[PHONE]"),
    ("\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b", "[IP]"))

  /** Redact common PII (emails, SSNs, phone numbers, IPv4 addresses) —
    * the standard pre-training scrub pass. Pure map-side `regexp_replace`
    * chain: codegen'd, zero shuffle, linear in the text.
    */
  def redactPii(text: Column): Column =
    piiPatterns.foldLeft(text) { case (c, (pat, tag)) =>
      regexp_replace(c, pat, java.util.regex.Matcher.quoteReplacement(tag)) }

  /** Word n-grams (space-joined) over a token array — one entry per
    * position, duplicates kept (the multiset the repetition signals are
    * defined on); empty for inputs shorter than n (a descending
    * `sequence` would otherwise probe index 0 and throw). Materialize the
    * result into a column when several signals read it, so the grams are
    * built once per row.
    */
  def ngrams(tokens: Column, n: Int): Column =
    when(size(tokens) >= n,
      transform(
        sequence(lit(1), size(tokens) - (n - 1)),
        i => concat_ws(" ", (0 until n).map(k => element_at(tokens, i + lit(k))): _*)))
      .otherwise(array().cast("array<string>"))

  /** Character MASS of the most frequent n-gram (count × gram length);
    * ties broken by the lexicographically smallest gram so "the top gram"
    * is well-defined across engines. Divided by [[totalGramChars]] this
    * is a bounded [0,1] analogue of Gopher's "top n-gram character
    * fraction" (Rae et al. 2021, Table A1): gram occurrences are weighed
    * by their full length rather than by distinct character positions, so
    * the ratio upper-bounds the paper's position-coverage measure and the
    * published thresholds act conservatively. Map-side, one linear hash
    * pass inside the row ([[graft.expressions.GramStatsExpr]]); NULL for
    * an empty array.
    */
  def topGramChars(grams: Column): Column = gramStat(grams, "top")

  /** Character mass at positions whose n-gram occurs more than once in
    * the document — the duplicated-gram numerator for the bounded
    * mass-fraction analogue of Gopher's "duplicate n-gram character
    * fraction" (see [[topGramChars]] for the relation to the paper's
    * position-coverage definition).
    */
  def dupGramChars(grams: Column): Column = gramStat(grams, "dup")

  /** Total character mass across all n-gram positions — the denominator
    * that makes the repetition signals bounded fractions in [0, 1].
    */
  def totalGramChars(grams: Column): Column = gramStat(grams, "total")

  // one field of the GramStatsExpr kernel, its LONG mass cast to the
  // signals' int result type (ANSI raises on overflow, legacy wraps)
  private def gramStat(arr: Column, field: String): Column =
    graft.expressions.GramStatsExpr.gramStats(arr).getField(field).cast("int")

  /** Default English-ish stopword list used by quality scoring. */
  val defaultStopwords: Seq[String] = Seq(
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "on", "for",
    "with", "at", "by", "from", "as", "that", "this", "it", "be")

  /** Gopher/C4-style keep thresholds — single-sourced for q66 (signal
    * report + keep flag) and the q95 corpus-prep composite (gate filter),
    * so a tuning change cannot silently diverge the two. The DuckDB
    * oracles restate these literally; change them together.
    */
  val QualityMinTokens = 5L
  val QualityMaxTokens = 100000L
  val QualityMinMeanWordLen = 2.0
  val QualityMaxMeanWordLen = 12.0
  val QualityMaxTopWordFrac = 0.2
  val QualityMaxDupWordFrac = 0.85

  /** Word statistics of a token array, the inputs of the keep rule:
    * token count `n`, distinct count `nd`, top-word count `maxc` and
    * total word length `sumLen` (all int) — `n` from `size`, the rest
    * from ONE linear [[graft.expressions.GramStatsExpr]] pass. Shared by
    * [[qualityKeep]] and q66's signal report, so the two cannot diverge.
    */
  final case class WordStats(n: Column, nd: Column, maxc: Column, sumLen: Column)

  def wordStats(t: Column): WordStats = {
    val g = graft.expressions.GramStatsExpr.gramStats(t)
    WordStats(size(t), g.getField("distinct"), g.getField("maxCount"),
      g.getField("total").cast("int"))
  }

  /** The keep rule over a lowercased token-array column. Signals are
    * round4-ed before comparison, exactly as q66 reports them, so `keep`
    * here ≡ q66's `keep` flag.
    */
  def qualityKeep(t: Column): Column = {
    val WordStats(n, nd, maxc, sumLen) = wordStats(t)
    // common-subexpression elimination evaluates the ratios eagerly, past
    // the AND's short circuit: an empty array must divide by NULL, not 0
    // (it fails the token-count test either way)
    val d = when(n =!= 0, n)
    n.cast("long") >= QualityMinTokens && n.cast("long") <= QualityMaxTokens &&
      round4(sumLen.cast("double") / d) >= QualityMinMeanWordLen &&
      round4(sumLen.cast("double") / d) <= QualityMaxMeanWordLen &&
      round4(maxc.cast("double") / d) <= QualityMaxTopWordFrac &&
      round4(lit(1.0) - nd.cast("double") / d) <= QualityMaxDupWordFrac
  }

  // ---- HTML boilerplate removal (crawl main-text extraction) ----

  /** Non-content containers dropped wholesale before block splitting.
    * RE2-compatible (no backrefs — `</script>` is spelled out rather than
    * `</\1>`) so the SAME pattern runs under Java regex and any RE2
    * oracle engine.
    */
  val htmlDropPattern: String =
    "(?is)<script(?:\\s[^>]*)?>.*?</script>|<style(?:\\s[^>]*)?>.*?</style>|<!--.*?-->"

  /** Block-level tag boundary — where jusText-style extraction cuts the
    * document into candidate blocks. Opening, closing, and self-closing
    * forms with arbitrary attributes all match.
    */
  val htmlBlockTagPattern: String =
    "(?i)</?(?:html|head|body|title|p|div|h[1-6]|li|ul|ol|dl|dt|dd|table|thead|tbody|tfoot|tr|td|th|br|hr|section|article|header|footer|nav|aside|main|figure|figcaption|blockquote|form|fieldset|pre|address|center)(?:\\s[^>]*)?/?>"

  /** Anchor bodies (group 1) — the link-density numerator. */
  val htmlAnchorPattern: String = "(?is)<a(?:\\s[^>]*)?>(.*?)</a>"

  /** Strip remaining inline tags and normalize whitespace — the plain
    * text of one block. (HTML entities are NOT decoded — a corpus-scale
    * extractor treats `&amp;` as a token character; document-level
    * normalization owns entity handling if a pipeline needs it.)
    */
  def htmlBlockPlain(b: Column): Column =
    trim(regexp_replace(regexp_replace(b, "<[^>]*>", " "), "\\s+", " "))

  /** Candidate blocks of an HTML document: drop script/style/comments,
    * split on block-level tag boundaries. Raw fragments (inline tags
    * still present) — score with [[mainTextBlocks]].
    */
  def htmlBlocks(html: Column): Column =
    split(regexp_replace(html, htmlDropPattern, " "), htmlBlockTagPattern)

  /** jusText-style main-content blocks (Pomikálek 2011; the Gopher/C4
    * crawl-cleaning shape): a block is CONTENT when it is long enough
    * (`minTokens`), link-light (anchor-text chars ≤ `maxLinkPct`% of its
    * plain chars — navigation/footer rows are link-dense), and, when
    * `minStopPct` > 0, function-word-bearing (stopword tokens ≥
    * `minStopPct`% — headline fragments and code dumps fail it).
    * Thresholds are integer percents compared with integer cross
    * products, so any engine agrees exactly.
    *
    * Returns the ARRAY of kept blocks' plain texts, in document order.
    * Pure map-side Column composition (split + higher-order functions):
    * zero shuffle, linear in the document, no UDFs.
    */
  def mainTextBlocks(
      html: Column, minTokens: Int = 5, maxLinkPct: Int = 30,
      stopwords: Seq[String] = Nil, minStopPct: Int = 0): Column = {
    require(minTokens >= 1, s"minTokens must be >= 1, got $minTokens")
    require(maxLinkPct >= 0 && maxLinkPct <= 100,
      s"maxLinkPct must be in [0,100], got $maxLinkPct")
    require(minStopPct >= 0 && minStopPct <= 100,
      s"minStopPct must be in [0,100], got $minStopPct")
    require(minStopPct == 0 || stopwords.nonEmpty,
      "minStopPct > 0 needs a non-empty stopword list")
    val sw = lit(stopwords.toArray)
    def keep(b: Column): Column = {
      val plain = htmlBlockPlain(b)
      val t = tokens(plain)
      val linkChars = aggregate(
        regexp_extract_all(b, lit(htmlAnchorPattern), lit(1)),
        lit(0), (acc, a) => acc + length(htmlBlockPlain(a)))
      val stopOk =
        if (minStopPct == 0) lit(true)
        else size(filter(t, x => array_contains(sw, lower(x)))) * 100 >=
          size(t) * minStopPct
      size(t) >= minTokens &&
        linkChars * 100 <= length(plain) * maxLinkPct &&
        stopOk
    }
    transform(filter(htmlBlocks(html), b => keep(b)), b => htmlBlockPlain(b))
  }

  /** The extracted main text: kept blocks joined with single spaces —
    * the first transform a crawl pipeline applies after WARC parse
    * ([[graft.sources.WarcIO]]), feeding language ID, quality gates, and
    * dedup downstream.
    */
  def extractMainText(
      html: Column, minTokens: Int = 5, maxLinkPct: Int = 30,
      stopwords: Seq[String] = Nil, minStopPct: Int = 0): Column =
    array_join(mainTextBlocks(html, minTokens, maxLinkPct, stopwords, minStopPct), " ")

  /** `<title>` text, whitespace-normalized ("" when absent). */
  def htmlTitle(html: Column): Column =
    trim(regexp_replace(
      regexp_extract(html, "(?is)<title[^>]*>(.*?)</title>", 1), "\\s+", " "))

  /** `<meta name=… content=…>` value for `name` (case-insensitive), ""
    * when absent; both attribute orders handled. Attribute values must be
    * quoted (the overwhelmingly dominant form in real markup).
    */
  def htmlMeta(html: Column, name: String): Column = {
    val n = java.util.regex.Pattern.quote(name.toLowerCase)
    val nameFirst = regexp_extract(html,
      s"""(?is)<meta\\s[^>]*name\\s*=\\s*["']$n["'][^>]*content\\s*=\\s*["']([^"']*)["']""", 1)
    val contentFirst = regexp_extract(html,
      s"""(?is)<meta\\s[^>]*content\\s*=\\s*["']([^"']*)["'][^>]*name\\s*=\\s*["']$n["']""", 1)
    when(nameFirst =!= "", nameFirst).otherwise(contentFirst)
  }

  /** `lang` attribute of the `<html>` tag, lowercased ("" when absent). */
  def htmlLang(html: Column): Column =
    lower(regexp_extract(html, """(?is)<html\s[^>]*lang\s*=\s*["']?([A-Za-z-]+)""", 1))

  /** `rel=canonical` link href ("" when absent) — the URL-dedup key
    * crawl pipelines prefer over the fetched URL.
    */
  def htmlCanonical(html: Column): Column = {
    val relFirst = regexp_extract(html,
      """(?is)<link\s[^>]*rel\s*=\s*["']canonical["'][^>]*href\s*=\s*["']([^"']*)["']""", 1)
    val hrefFirst = regexp_extract(html,
      """(?is)<link\s[^>]*href\s*=\s*["']([^"']*)["'][^>]*rel\s*=\s*["']canonical["']""", 1)
    when(relFirst =!= "", relFirst).otherwise(hrefFirst)
  }

  /** Sliding-window document chunking — the embedding/retrieval prep step
    * (fixed-size token windows with overlap, the shape RAG indexers and
    * long-document embedding pipelines consume). Chunk k covers token
    * positions [k·stride, k·stride + chunkTokens) with
    * stride = chunkTokens − overlapTokens; windows start at every stride
    * multiple below the token count, so the final chunk may be shorter
    * (and, when stride < chunkTokens, more overlapped) than the rest.
    * Empty documents produce no chunks.
    *
    * Scale shape: chunk windows are built IN-ROW (a `sequence` of starts +
    * `slice` per start) and row-expanded with `posexplode` — map-only,
    * zero shuffle, stays inside WholeStageCodegen; output volume is
    * input tokens × (chunkTokens / stride) by construction.
    *
    * Returns (idCol, carryCols…, chunk_id, chunk_text, n_tokens);
    * chunk_text rejoins tokens with single spaces (inter-token whitespace
    * is normalized, same as
    * [[graft.functions.DedupFunctions.exactSubstrDedup]]). Window starts
    * stop at the last window that contributes a NEW token (starts below
    * `max(n − overlapTokens, 1)`): a trailing window whose tokens are all
    * inside the previous one would be a 100%-duplicate chunk — wasted
    * embedding compute and retrieval noise downstream. `carryCols` ride
    * through to every chunk row — carrying a per-doc attribute here costs
    * one duplicated value per chunk, where joining it back afterwards
    * would re-run the whole upstream plan a second time (no exchange
    * reuse across differently-shaped consumers; measured on the q95
    * composite: the gate + dedup shuffle ran twice).
    */
  def chunkDocs(
      df: DataFrame, idCol: String, textCol: String,
      chunkTokens: Int, overlapTokens: Int,
      carryCols: Seq[String] = Nil): DataFrame = {
    require(chunkTokens >= 1, s"chunkTokens must be >= 1, got $chunkTokens")
    require(overlapTokens >= 0 && overlapTokens < chunkTokens,
      s"overlapTokens must be in [0, chunkTokens), got $overlapTokens")
    val reserved = Seq("chunk_id", "chunk_text", "n_tokens", "__toks", "__n", "__st")
    val clash = (idCol +: carryCols).filter(reserved.contains)
    require(clash.isEmpty,
      s"chunkDocs: column(s) ${clash.mkString(", ")} collide with " +
        s"output/internal names (${reserved.mkString(", ")}) — rename them first")
    val stride = chunkTokens - overlapTokens
    val carried = carryCols.map(col)
    df.select(col(idCol) +: carried :+ tokens(col(textCol)).as("__toks"): _*)
      .withColumn("__n", size(col("__toks")))
      .filter(col("__n") > 0)
      .select(col(idCol) +: carried :+ col("__toks") :+ col("__n") :+
        posexplode(sequence(lit(0),
          greatest(col("__n") - overlapTokens - 1, lit(0)), lit(stride)))
          .as(Seq("chunk_id", "__st")): _*)
      .select(col(idCol) +: carried :+
        col("chunk_id").cast("long").as("chunk_id") :+
        array_join(slice(col("__toks"), col("__st") + 1, lit(chunkTokens)), " ")
          .as("chunk_text") :+
        least(lit(chunkTokens), col("__n") - col("__st")).cast("long")
          .as("n_tokens"): _*)
  }

  /** Collocation mining with an EXACT-INTEGER lift score — the PMI-family
    * word-association census (Church & Hanks 1990) without the log: for
    * an unordered pair {a,b} co-occurring within `window` positions,
    * `lift6 = pair_cnt·N·10⁶ div (cnt_a·cnt_b)` — monotone in pointwise
    * mutual information (the pair-total normalizer is constant across
    * pairs), so the top-k ORDER is PMI order while every score restates
    * in BIGINT arithmetic. Tokens = the engine-wide lower/whitespace
    * contract; pairs explode bounded by `window`·tokens (never tokens²);
    * one groupBy per relation, top-k via a rank filter (WindowGroupLimit
    * at scale).
    */
  def collocations(docs: DataFrame, idCol: String, textCol: String,
      window: Int, minCount: Long, k: Int): DataFrame = {
    require(window >= 1 && window <= 16, s"window in [1,16], got $window")
    val pos = docs.select(col(idCol).as("__id"),
        posexplode(tokens(lower(coalesce(col(textCol), lit(""))))).as(Seq("i", "w")))
    val n = pos.agg(count(lit(1)).as("n_tokens"))
    val wc = pos.groupBy(col("w")).agg(count(lit(1)).as("cnt"))
    val b = pos.select(col("__id"), col("i").as("j"), col("w").as("w2"))
    // each position explodes to its `window` right-offsets and equi-joins
    // on (doc, position): rows = tokens·window, never per-doc tokens²
    val shifted = pos.select(col("__id"), col("w"),
      explode(array((1 to window).map(d => col("i") + lit(d)): _*)).as("j"))
    val pairs = shifted.join(b, Seq("__id", "j"))
      .select(least(col("w"), col("w2")).as("wa"),
        greatest(col("w"), col("w2")).as("wb"))
      .groupBy(col("wa"), col("wb")).agg(count(lit(1)).as("pair_cnt"))
      .filter(col("pair_cnt") >= minCount)
    val scored = pairs
      .join(wc.select(col("w").as("wa"), col("cnt").as("cnt_a")), Seq("wa"))
      .join(wc.select(col("w").as("wb"), col("cnt").as("cnt_b")), Seq("wb"))
      .crossJoin(broadcast(n))
      .select(col("wa"), col("wb"), col("pair_cnt"), col("cnt_a"), col("cnt_b"),
        expr("(pair_cnt * n_tokens * 1000000) div (cnt_a * cnt_b)").as("lift6"))
    val rw = org.apache.spark.sql.expressions.Window
      .orderBy(col("lift6").desc, col("wa").asc, col("wb").asc)
    scored.withColumn("rank", row_number().over(rw).cast("long"))
      .filter(col("rank") <= k)
  }
}
