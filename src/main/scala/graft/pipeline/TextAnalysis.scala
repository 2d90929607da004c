package graft.pipeline

import graft.CacheScope
import graft.functions.GraftFunctions
import graft.functions.GraftFunctions.{quant4, round4}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines:
  * token counting, quality scoring, language-ID heuristic, and document
  * fingerprinting. All are pure `Column` compositions (codegen'd, no UDFs)
  * with 1:1 DuckDB equivalents; every operator is embarrassingly parallel
  * per row — no shuffle at any scale.
  */
object TextAnalysis {

  /** Whitespace tokenizer (the corpus is space-separated); a BPE-ish
    * fallback for unspaced text is `regexTokens`.
    */
  def tokens(text: Column): Column = split(text, " ")

  /** Regex token split approximating byte-pair-ish word pieces: runs of
    * word chars or single non-space symbols.
    */
  def regexTokens(text: Column): Column =
    filter(split(text, "[^\\p{L}\\p{N}]+"), t => length(t) > 0)

  def tokenCount(text: Column): Column = size(tokens(text))

  /** Top-K corpus vocabulary by token frequency (freq desc, token asc
    * tie-break) — the vocabulary-building pass of a tokenizer pipeline.
    * Hash aggregation with map-side combine + TakeOrdered top-K: the
    * shuffle carries one row per distinct token, never the token stream.
    */
  def vocabulary(docs: DataFrame, topK: Int,
      textCol: String = "text"): DataFrame =
    docs.select(explode(tokens(col(textCol))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("token"))
      .limit(topK)

  def charCount(text: Column): Column = length(text)

  /** Scrubbing patterns for [[redact]] — kept lookaround-free so Java
    * regex (Spark) and RE2 (DuckDB `regexp_replace(..., 'g')`) agree
    * character-for-character.
    */
  val RedactEmail = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val RedactUrl = "https?://[^ ]+"
  val RedactIp = "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"

  /** PII/URL scrubbing: replace emails, URLs, and IPv4 literals with
    * fixed placeholder tokens — the standard pre-training redaction
    * pass. Pure per-row `regexp_replace` chain: codegen'd, no shuffle,
    * embarrassingly parallel at any scale.
    */
  def redact(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, RedactEmail, "<EMAIL>"),
        RedactUrl, "<URL>"),
      RedactIp, "<IP>")

  /** Fraction of characters that are punctuation. */
  def punctRatio(text: Column): Column =
    (length(text) - length(regexp_replace(text, "[\\.,!\\?;:'\"]", ""))) /
      length(text).cast("double")

  private val stopwords =
    Seq("the", "a", "of", "and", "to", "in", "is", "it", "that", "for")

  /** Fraction of tokens that are (English) stopwords. */
  def stopwordRatioOf(toks: Column): Column =
    size(filter(toks, t => t.isin(stopwords: _*))) /
      size(toks).cast("double")

  def stopwordRatio(text: Column): Column = stopwordRatioOf(tokens(text))

  def avgWordLen(text: Column): Column =
    (length(text) - (size(tokens(text)) - 1)) /
      size(tokens(text)).cast("double")

  /** Deterministic quality score in [0,1]: length signal + stopword
    * presence − punctuation noise (the standard cheap heuristics used to
    * pre-filter web corpora).
    */
  def qualityScoreOf(text: Column, toks: Column): Column =
    least(size(toks).cast("double") / 100.0, lit(1.0)) * 0.5 +
      least(stopwordRatioOf(toks) * 5.0, lit(1.0)) * 0.3 +
      (lit(1.0) - least(punctRatio(text) * 10.0, lit(1.0))) * 0.2

  def qualityScore(text: Column): Column =
    qualityScoreOf(text, tokens(text))

  /** Per-language stopword profiles for the n-gram/stopword language-ID
    * heuristic. Deliberately tiny — language ID at corpus scale is a
    * scoring pass, not a model.
    */
  val langProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "is", "of", "and"),
    "es" -> Seq("el", "la", "de", "que", "y"),
    "de" -> Seq("der", "die", "und", "ist", "das"),
    "fr" -> Seq("le", "la", "de", "et", "un"),
    "zh" -> Seq("de5", "shi4", "zai4", "le5", "he2"))

  /** Language-ID: argmax of per-language stopword hit counts, 'und'
    * (undetermined) when no profile scores > 0. Ties resolve in profile
    * order (en first) — deterministic.
    */
  def langIdOf(toks: Column): Column = {
    def score(words: Seq[String]): Column =
      size(filter(toks, t => t.isin(words: _*)))
    val scores = langProfiles.map { case (lang, ws) => lang -> score(ws) }
    val best = greatest(scores.map(_._2): _*)
    scores.foldRight(lit("und")) { case ((lang, s), el) =>
      when(s === best && best > 0, lang).otherwise(el)
    }
  }

  def langId(text: Column): Column = langIdOf(tokens(text))

  /** IMPORTANT codegen note for every `...Of(toks)` variant below: pass
    * a PROJECTED array column (`df.select(split(...).as("w"))` in a
    * child Project), not `tokens(text)` inline. Catalyst substitutes an
    * inline expression into every `element_at`/`size` reference, so an
    * n-gram builder over `tokens(text)` re-runs the regex split O(n)
    * times per row (measured 5× on pl_decontam); a projected column is
    * evaluated once per row and reused by whole-stage codegen (Catalyst
    * keeps the Projects separate when collapsing would duplicate a
    * non-cheap expression).
    */
  def withTokens(docs: DataFrame, textCol: String = "text",
      tokCol: String = "w_"): DataFrame =
    docs.withColumn(tokCol, tokens(col(textCol)))

  /** Word n-grams of a token array as space-joined strings; empty array
    * when the doc has fewer than n tokens.
    */
  def ngramsOf(toks: Column, n: Int): Column = {
    require(n >= 1, "n >= 1")
    when(size(toks) >= n,
      transform(sequence(lit(1), size(toks) - (n - 1)),
        i => concat_ws(" ", (0 until n).map(j => element_at(toks, i + j)): _*)))
      .otherwise(array().cast("array<string>"))
  }

  /** Word n-grams straight from text — fine for one-off use; hot paths
    * should project `tokens` once and use [[ngramsOf]] (see codegen
    * note above).
    */
  def wordNgrams(text: Column, n: Int): Column = ngramsOf(tokens(text), n)

  /** Per-doc n-gram MULTIPLICITY counts keyed by the oracle-shared
    * 60-bit md5 gram hash: `(id, g, cd)` with `g = md5_60(gram)` and
    * `cd` the gram's occurrence count in that doc.
    *
    * ONE typed flatMap does tokenize → n-gram → LOCAL hashmap count →
    * one md5 per DISTINCT gram per doc. A document's grams all live in
    * its own row, so the per-(doc, gram) aggregation that the
    * explode + groupBy formulation shuffles is computed map-side here
    * for free, and everything downstream shuffles 8-byte longs, never
    * gram text (the Dedup.shingleHashes recipe, applied to counted
    * multisets). DuckDB reproduces the hash (`substr(md5(g),1,15)`), so
    * a collision cannot diverge the engines.
    */
  def gramHashCounts(docs: DataFrame, n: Int, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .select(col(idCol).cast("long"), col(textCol))
      .as[(Long, String)]
      .flatMap { case (id, text) =>
        val toks = text.split(" ", -1)
        if (toks.length < n) Iterator.empty
        else {
          val counts = scala.collection.mutable.HashMap.empty[String, Long]
          var i = 0
          while (i <= toks.length - n) {
            val sb = new java.lang.StringBuilder(toks(i))
            var j = 1
            while (j < n) { sb.append(' ').append(toks(i + j)); j += 1 }
            counts.updateWith(sb.toString)(c => Some(c.getOrElse(0L) + 1L))
            i += 1
          }
          val md = java.security.MessageDigest.getInstance("MD5")
          counts.iterator.map { case (s, c) =>
            val d = md.digest(s.getBytes("UTF-8"))
            var h = 0L
            var k = 0
            while (k < 8) { h = (h << 8) | (d(k) & 0xffL); k += 1 }
            (id, h >>> 4, c)
          }
        }
      }
      .toDF("id", "g", "cd")
  }

  /** Fraction of token occurrences that are repeats of an earlier token
    * (1 − distinct/total) — the token-level analogue of Gopher's
    * duplicate-line fraction (the corpus is single-line docs). Pure
    * per-row array math: no shuffle at any scale.
    */
  def dupTokenFracOf(toks: Column): Column =
    lit(1.0) - size(array_distinct(toks)) / size(toks).cast("double")

  def dupTokenFrac(text: Column): Column = dupTokenFracOf(tokens(text))

  /** Fraction of word n-gram occurrences that are repeats — Gopher's
    * duplicate-n-gram filters, token-denominated. 0.0 for docs shorter
    * than n.
    */
  def dupNgramFracOf(toks: Column, n: Int): Column = {
    val g = ngramsOf(toks, n)
    when(size(g) > 0,
      lit(1.0) - size(array_distinct(g)) / size(g).cast("double"))
      .otherwise(lit(0.0))
  }

  def dupNgramFrac(text: Column, n: Int): Column =
    dupNgramFracOf(tokens(text), n)

  /** Longest run of the SAME token repeated consecutively — catches the
    * "word word word word ..." degeneracy n-gram fractions miss. One
    * `aggregate` pass over the token array (struct accumulator:
    * previous token, current run, best run); O(tokens) per row, no
    * shuffle.
    */
  def maxTokenRunOf(toks: Column): Column =
    aggregate(
      toks,
      struct(lit("").as("prev"), lit(0L).as("run"), lit(0L).as("best")),
      (acc, x) => {
        val run = when(x === acc("prev"), acc("run") + 1).otherwise(lit(1L))
        struct(x.as("prev"), run.as("run"),
          greatest(acc("best"), run).as("best"))
      },
      acc => acc("best"))

  def maxTokenRun(text: Column): Column = maxTokenRunOf(tokens(text))

  /** Per-document repetition profile (the Gopher repetition-filter
    * family): duplicate token / bigram / trigram fractions + longest
    * same-token run. Embarrassingly parallel per row; tokens split once
    * per row via [[withTokens]].
    */
  def repetitionStats(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val w = col("w_")
    withTokens(docs, textCol).select(col(idCol),
      dupTokenFracOf(w).as("dup_token_frac"),
      dupNgramFracOf(w, 2).as("dup_2gram_frac"),
      dupNgramFracOf(w, 3).as("dup_3gram_frac"),
      maxTokenRunOf(w).as("max_run"))
  }

  /** CCNet-style language-model filter proxy: per-document mean negative
    * log-likelihood under the corpus's own unigram distribution. High
    * NLL = rare-token soup (boilerplate, code dumps, OCR noise); low =
    * common-word text. Two passes: a corpus-wide token count (map-side
    * combined; vocabulary for natural language is MBs even at 100 TB,
    * so the frequency table broadcasts), then a per-doc mean over the
    * exploded token stream — the only exchange is the per-doc
    * aggregation.
    */
  def unigramNll(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = CacheScope.eager { cache =>
    // the exploded token relation feeds two branches (frequency table +
    // probe side) — kept so the tokenize+explode pass runs once, not twice
    val toks = cache.keep(withTokens(docs, textCol)
      .select(col(idCol), explode(col("w_")).as("token")))
    // corpus size rides inside the plan (global window over the already
    // vocab-sized frequency table) instead of a separate .first() action
    // — the heavy tokenize+count pass runs once, not twice
    val freqs = toks.groupBy("token").agg(count(lit(1)).as("freq"))
      .withColumn("n_", sum(col("freq")).over(
        Window.partitionBy(lit(1))
          .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
    toks.join(broadcast(freqs), "token")
      .groupBy(col(idCol))
      .agg((-avg(log(col("freq").cast("double") / col("n_")))).as("nll"))
  }

  /** Bigram-LM filter (one order above [[unigramNll]], the direction of
    * CCNet's KenLM perplexity scoring): per-doc mean −ln P(w₂|w₁) under
    * the corpus's own bigram counts with add-α smoothing
    * `P = (c(w₁w₂)+α) / (c(w₁·)+α·V)`. Docs shorter than 2 tokens have
    * no bigrams and drop out. Scale shape: the bigram table grows past
    * broadcast range (~100M rows for web-scale corpora), so both count
    * joins are plain shuffle joins on the gram key — map-side-combined
    * counts, one per-doc aggregation; nothing corpus-sized ever sits on
    * one node. V (distinct unigrams) is vocabulary-sized: one cheap
    * distinct-count pass.
    */
  def bigramNll(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", alpha: Double = 0.1): DataFrame = CacheScope.eager { cache =>
    // the bigram relation feeds THREE branches (bigram counts, left-token
    // counts, probe side) — kept, or the tokenize+ngram pass runs three
    // times (measured 5.9 s → 2.3 s fresh-JVM on the sf1 gate)
    val bg = cache.keep(withTokens(docs, textCol)
      .select(col(idCol), explode(ngramsOf(col("w_"), 2)).as("g")))
    // V rides inside the plan as a broadcast 1-row frame (the oracle's
    // `v` CTE) — an eager .first() here would pay a second full corpus
    // scan at plan-construction time (see the unigramNll note)
    val vdf = withTokens(docs, textCol)
      .select(explode(col("w_")).as("t"))
      .agg(count_distinct(col("t")).as("v_"))
    val c2 = bg.groupBy("g").agg(count(lit(1)).as("c2"))
    val c1 = bg.select(substring_index(col("g"), " ", 1).as("w1"))
      .groupBy("w1").agg(count(lit(1)).as("c1"))
    bg.join(c2, "g")
      .withColumn("w1", substring_index(col("g"), " ", 1))
      .join(c1, "w1")
      .crossJoin(broadcast(vdf))
      .groupBy(col(idCol))
      .agg((-avg(log((col("c2") + alpha) / (col("c1") + col("v_") * alpha))))
        .as("nll"))
  }

  /** Per-document top-k TF-IDF keywords with smoothed idf
    * `ln((N+1)/(df+1)) + 1`. Ranking uses the 1e-4-quantized score
    * (token-ascending tie-break) so the ordering is reproducible across
    * engines despite last-ulp `ln` differences. Shuffle shape at scale:
    * explode → map-side-combined (doc, token) counts, persisted so the
    * corpus tokenize pass runs ONCE (the df branch and the join probe
    * prune it differently, so exchange reuse never fires and an
    * unpersisted plan re-tokenizes the corpus) → join against the
    * document-frequency table (no broadcast hint: AQE broadcasts it
    * while it fits, and a 100 TB corpus' vocabulary — 10⁸⁺ tokens under
    * Heaps' law — must shuffle instead) → one window shuffle on doc id.
    * `N` is a columnless parquet count (metadata scan), not a second
    * data pass. Returns the materialized top-k frame (cached; callers
    * may unpersist) so the tf cache can be released here.
    */
  def tfidfKeywords(docs: DataFrame, k: Int = 5, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = CacheScope.eager { cache =>
    val n = docs.count()
    val tf = cache.keep(withTokens(docs, textCol)
      .select(col(idCol), explode(col("w_")).as("token"))
      .groupBy(col(idCol), col("token")).agg(count(lit(1)).as("tf")))
    val dfreq = tf.groupBy("token").agg(count(lit(1)).as("df"))
    val idf = log(lit(n + 1.0) / (col("df") + 1.0)) + 1.0
    val scored = tf.join(dfreq, "token")
      .withColumn("score", round4(col("tf") * idf))
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("score").desc, col("token"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(idCol), col("token"), col("score"), col("rank"))
  }

  /** Fixed weights for [[qualityLrScore]] — a frozen linear model over
    * the cheap per-row features, the shape of the fasttext-style quality
    * classifiers used to filter web corpora (score = σ(w·x + b)). Values
    * are calibration constants, not learned here; production pipelines
    * ship their own trained weights.
    */
  val QualityLrWeights: Seq[(String, Double)] = Seq(
    "ntok_norm" -> 1.8, // length signal, capped at 1
    "stopword_ratio" -> 2.2, // English-like prose
    "punct_ratio" -> -3.0, // OCR noise / markup
    "dup_token_frac" -> -2.5, // degenerate repetition
    "avg_word_len_norm" -> 0.9) // natural word lengths
  val QualityLrBias: Double = -1.1

  /** Model-based quality score in (0,1): a frozen logistic regression
    * over per-row text features. Pure `Column` arithmetic — codegen'd,
    * shuffle-free, embarrassingly parallel; at 100 TB this is the
    * cheapest possible classifier pass (no UDF, no model server).
    */
  /** The canonical per-row quality feature vector (ordered — training
    * and scoring fold z in this order). Shared by [[qualityLrScoreOf]]
    * and [[lrTrain]].
    */
  def qualityFeatureCols(text: Column, toks: Column): Seq[(String, Column)] = Seq(
    "ntok_norm" -> least(size(toks).cast("double") / 100.0, lit(1.0)),
    "stopword_ratio" -> stopwordRatioOf(toks),
    "punct_ratio" -> punctRatio(text),
    "dup_token_frac" -> dupTokenFracOf(toks),
    "avg_word_len_norm" ->
      least((length(text) - (size(toks) - 1)) /
        (size(toks).cast("double") * 8.0), lit(1.0)))

  def qualityLrScoreOf(text: Column, toks: Column): Column = {
    val feats = qualityFeatureCols(text, toks).toMap
    val z = QualityLrWeights.foldLeft(lit(QualityLrBias): Column) {
      case (acc, (name, w)) => acc + feats(name) * w
    }
    lit(1.0) / (lit(1.0) + exp(-z))
  }

  def qualityLrScore(text: Column): Column =
    qualityLrScoreOf(text, tokens(text))

  /** Distributed logistic-regression TRAINING over the per-row quality
    * features (the fasttext-style classifier loop itself, not just the
    * frozen-weights scoring pass): full-batch gradient descent,
    * `w ← w − η·(1/n)·Σ (σ(w·x) − y)·x`, `iters` rounds from zero
    * weights.
    *
    * Each iteration is ONE distributed pass: the current weights ride
    * into the scan as literals (the k-means layout — no join, no
    * window), per-row gradient terms quantize to integer 1e-6 units so
    * the per-feature sums are order-free longs, and the driver applies
    * the fixed-shape update rounded to the 1e-4 grid — so both engines
    * iterate from bit-identical weight vectors and the DuckDB oracle
    * replays every round as an unrolled CTE stage (the bpeTrain
    * pattern). Driver state = |features|+1 doubles. Returns
    * (feature, weight) rows, "bias" included.
    */
  def lrTrain(docs: DataFrame, label: Column, iters: Int = 3,
      eta: Double = 1.0, textCol: String = "text"): DataFrame = CacheScope { cache =>
    val spark = docs.sparkSession
    import spark.implicits._
    val featNames = qualityFeatureCols(col(textCol), tokens(col(textCol)))
      .map(_._1)
    val base = withTokens(docs, textCol)
    val feats = qualityFeatureCols(col(textCol), col("w_"))
    val table = cache.keep(base.select(
      feats.map { case (n, c) => round4(c).as(n) } :+
        when(label, lit(1.0)).otherwise(lit(0.0)).as("y"): _*))
    val n = table.count().toDouble
    val w = Array.fill(featNames.size + 1)(0.0) // features then bias
    for (_ <- 0 until iters) {
      val z = featNames.zipWithIndex.foldLeft(lit(w.last): Column) {
        case (acc, (name, j)) => acc + col(name) * w(j)
      }
      val g = lit(1.0) / (lit(1.0) + exp(-z)) - col("y")
      val sums = table.select(
        featNames.map(name =>
          sum(floor(g * col(name) * 1000000 + 0.5 + 1e-6).cast("long")).as(name)) :+
          sum(floor(g * 1000000 + 0.5 + 1e-6).cast("long")).as("bias_"): _*)
        .head()
      var j = 0
      while (j <= featNames.size) {
        w(j) = quant4(w(j) - eta * (sums.getLong(j) / 1000000.0) / n) / 10000.0
        j += 1
      }
    }
    (featNames :+ "bias").zip(w).toDF("feature", "weight")
  }

  /** Greedy longest-match-first WordPiece over each whitespace word:
    * first piece matches bare, continuations match with the `##` prefix;
    * a word with any unmatchable remainder becomes one `[UNK]` (the
    * published WordPiece contract). Driver-local, shared with the
    * distributed [[wordpiece]] and the specs.
    */
  def wordpieceWord(word: String, vocab: Set[String], maxPiece: Int): Seq[String] = {
    val out = Seq.newBuilder[String]
    var pos = 0
    while (pos < word.length) {
      var len = math.min(maxPiece, word.length - pos)
      var hit: String = null
      while (len >= 1 && hit == null) {
        val sub = word.substring(pos, pos + len)
        val candidate = if (pos == 0) sub else "##" + sub
        if (vocab.contains(candidate)) hit = candidate else len -= 1
      }
      if (hit == null) return Seq("[UNK]")
      out += hit
      pos += len
    }
    out.result()
  }

  /** Distributed tokenizer application: WordPiece pieces per document
    * against a broadcast vocabulary — the pass that turns a cleaned
    * corpus into model tokens. Real subword vocabularies are ~30-100k
    * entries (MBs), so the vocab broadcasts to every executor and the
    * pass is a typed per-row map: embarrassingly parallel, no shuffle at
    * any scale. A typed map (not Column-expression) is the justified
    * choice here — greedy longest-match is an imperative loop per word,
    * and the shingleHashes measurement note applies: interpreted
    * higher-order Column lambdas cost ~10× on exactly this shape.
    */
  def wordpiece(docs: DataFrame, vocab: Seq[String],
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(vocab.nonEmpty, "wordpiece vocabulary must not be empty")
    val spark = docs.sparkSession
    import spark.implicits._
    val maxPiece = vocab.map(v => v.stripPrefix("##").length).max
    val bc = spark.sparkContext.broadcast(vocab.toSet)
    docs.select(col(idCol).cast("long"), col(textCol))
      .as[(Long, String)]
      .map { case (id, text) =>
        val pieces = text.split(" ", -1).iterator.filter(_.nonEmpty)
          .flatMap(w => wordpieceWord(w, bc.value, maxPiece)).toSeq
        (id, pieces, pieces.size)
      }
      .toDF(idCol, "pieces", "n_pieces")
  }

  /** HTML → text cleanup (the extraction-adjacent pass of web-corpus
    * pipelines): drop script/style blocks wholesale, strip remaining
    * tags, unescape the five predefined entities, collapse whitespace.
    * Pure per-row regex chain (codegen'd, no UDF); patterns are
    * RE2-compatible (`(?s)` dot-matches-newline, no lookaround) so the
    * DuckDB oracle replays them byte-for-byte.
    */
  def stripHtml(html: Column): Column = {
    val noBlocks = regexp_replace(html,
      "(?s)<(script|style)[^>]*>.*?</(script|style)>", " ")
    val noTags = regexp_replace(noBlocks, "<[^>]*>", " ")
    val unescaped =
      regexp_replace(
        regexp_replace(
          regexp_replace(
            regexp_replace(
              regexp_replace(noTags, "&lt;", "<"),
              "&gt;", ">"),
            "&quot;", "\""),
          "&#39;", "'"),
        "&amp;", "&") // last: "&amp;lt;" must yield "&lt;", not "<"
    trim(regexp_replace(unescaped, "\\s+", " "))
  }

  /** Count of token occurrences that appear in a blocklist — the
    * lexicon-based content filter every web pipeline runs (obscenity /
    * spam term lists). Whole-token matching (no substring surprises);
    * per-row array math against a literal array, no shuffle. Real
    * deployments pass lists of thousands of terms — still a broadcast-
    * sized literal (or a broadcast join for very large lexicons).
    */
  def blocklistHitsOf(toks: Column, terms: Seq[String]): Column =
    size(filter(toks, t => lower(t).isin(terms.map(_.toLowerCase): _*)))

  def blocklistHits(text: Column, terms: Seq[String]): Column =
    blocklistHitsOf(tokens(text), terms)

  /** URL hosts referenced by a document, normalized (lowercased, one
    * leading `www.` stripped) — the extraction step in front of per-host
    * document caps ([[Sampling.capPerKey]]) and host-level blocklists.
    * Pure per-row regex work (codegen'd, no UDF); the pattern is
    * lookaround-free so Java regex (Spark) and RE2 (DuckDB) agree.
    */
  def urlHosts(text: Column): Column =
    transform(
      regexp_extract_all(text, lit("https?://([^/\\s]+)"), lit(1)),
      h => regexp_replace(lower(h), "^www\\.", ""))

  /** Canonical form of a URL for dedup keys: fragment dropped, host
    * lowercased with one leading `www.` stripped, scheme dropped, the
    * path's trailing slashes trimmed, and tracking query parameters
    * (`utm_*`, `fbclid`, `gclid`) removed with the remaining parameters
    * kept in their original order. Pure per-row Column work (codegen'd,
    * no UDF); every regex is lookaround-free so Java regex (Spark) and
    * RE2 (DuckDB) agree. The path's case is preserved — RFC 3986 makes
    * only scheme+host case-insensitive.
    */
  def canonicalUrl(url: Column): Column = {
    val u0 = regexp_replace(url, "#.*", "")
    val host = regexp_replace(
      lower(regexp_extract(u0, "^[a-zA-Z]+://([^/?#]+)", 1)), "^www\\.", "")
    val rest = regexp_replace(u0, "^[a-zA-Z]+://[^/?#]+", "")
    val path = regexp_replace(substring_index(rest, "?", 1), "/+$", "")
    val q = regexp_extract(rest, "\\?(.*)$", 1)
    val kept = array_join(
      filter(split(q, "&"), p =>
        !(p.startsWith("utm_") || p.startsWith("fbclid=")
          || p.startsWith("gclid="))),
      "&")
    concat(host, path,
      when(kept === "", lit("")).otherwise(concat(lit("?"), kept)))
  }

  /** Per-document trigram NLL under a Stupid Backoff LM (Brants et al.
    * 2007, "Large Language Models in Machine Translation" — the
    * web-scale scoring recipe: no normalization, a fixed 0.4 backoff
    * multiplier per level, counts straight from the corpus). Counts come
    * from the TRAIN half (`idCol % 2 = 0`), scoring runs on the EVAL
    * half — that split is what makes backoff fire (a corpus scored
    * against its own counts never sees an unseen trigram).
    *
    *   S(w₃|w₁w₂) = c₃/c₂(w₁w₂)            if the trigram is in train
    *              = 0.4·c₂(w₂w₃)/c₁(w₂)     else if the bigram is
    *              = 0.4²·(c₁(w₃)+0.1)/(N+0.1V)  else (smoothed unigram)
    *
    * Shape at scale: the count relations are shuffled gram-keyed
    * aggregates (vocabulary-sized, map-side-combined; never collected),
    * the probe is the eval trigram relation joined against them — the
    * [[bigramNll]] contract with one more level. N and V ride in one
    * broadcast scalar frame.
    */
  def sboNll(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", alpha: Double = 0.4): DataFrame = CacheScope.eager { cache =>
    // positional (w1..wn) gram relation from a pre-tokenized frame;
    // size-guard BEFORE the explode (Spark's sequence() runs DESCENDING
    // when end < start — a too-short doc would emit phantom positions)
    def grams(tok: DataFrame, n: Int): DataFrame = {
      val w = col("w_")
      val cols = (0 until n).map(j => element_at(w, col("p") + j).as(s"w${j + 1}"))
      tok.where(size(w) >= n)
        .select(col(idCol), w,
          explode(sequence(lit(1), size(w) - (n - 1))).as("p"))
        .select(col(idCol) +: cols: _*)
    }
    // the train token frame feeds FOUR branches (tri/bi/unigram counts,
    // N·V scalars) — kept or the tokenize pass runs four times
    // (the bigramNll lesson)
    val tt = cache.keep(withTokens(docs.filter(col(idCol) % 2 === 0), textCol))
    val c3 = grams(tt, 3).groupBy("w1", "w2", "w3")
      .agg(count(lit(1)).as("c3"))
    val cb = grams(tt, 2).groupBy("w1", "w2")
      .agg(count(lit(1)).as("cb"))
    val c1 = tt.select(explode(col("w_")).as("t"))
      .groupBy("t").agg(count(lit(1)).as("c1"))
    val nv = tt.select(explode(col("w_")).as("t"))
      .agg(count(lit(1)).as("n_"), count_distinct(col("t")).as("v_"))
    val probe = grams(withTokens(docs.filter(col(idCol) % 2 === 1), textCol), 3)
    probe
      .join(c3, Seq("w1", "w2", "w3"), "left")
      .join(cb.withColumnRenamed("cb", "cb12"), Seq("w1", "w2"), "left")
      .join(cb.select(col("w1").as("w2"), col("w2").as("w3"),
        col("cb").as("cb23")), Seq("w2", "w3"), "left")
      .join(c1.select(col("t").as("w2"), col("c1").as("cu2")), Seq("w2"), "left")
      .join(c1.select(col("t").as("w3"), col("c1").as("cu3")), Seq("w3"), "left")
      .crossJoin(broadcast(nv))
      .withColumn("score",
        when(col("c3").isNotNull, col("c3") / col("cb12"))
          .when(col("cb23").isNotNull, lit(alpha) * col("cb23") / col("cu2"))
          .otherwise(lit(alpha * alpha) * (coalesce(col("cu3"), lit(0L)) + 0.1)
            / (col("n_") + lit(0.1) * col("v_"))))
      .groupBy(col(idCol))
      .agg((-avg(log(col("score")))).as("nll"),
        count(when(col("c3").isNull, lit(1))).as("n_backoff"))
  }

  /** Merge every non-overlapping left-to-right occurrence of the adjacent
    * pair `(a, b)` in a symbol sequence — the single-step primitive shared
    * by the BPE trainer and encoder. The scan resumes AFTER a merged
    * symbol, so `[a,a,a]` under `(a,a)` becomes `[aa,a]` (and the DuckDB
    * oracle's plain `replace` over bracketed symbols matches exactly).
    */
  def bpeMergePair(syms: IndexedSeq[String], a: String, b: String): IndexedSeq[String] = {
    val out = Vector.newBuilder[String]
    var i = 0
    while (i < syms.length) {
      if (i < syms.length - 1 && syms(i) == a && syms(i + 1) == b) {
        out += (a + b); i += 2
      } else { out += syms(i); i += 1 }
    }
    out.result()
  }

  /** Byte-pair-encoding trainer (Sennrich et al. 2016, "Neural Machine
    * Translation of Rare Words with Subword Units"): learn `nMerges`
    * merge rules from the corpus. Returns the merges in learned order.
    *
    * Shape at 100 TB: ONE distributed pass aggregates the token stream to
    * (distinct word, frequency) — vocabulary-sized under Heaps' law, and
    * capped at the `maxWords` most frequent words (freq desc, word asc;
    * frequency-rank truncation is the standard trainer option) — then the
    * merge loop runs on that bounded aggregate, never the corpus. This is
    * exactly how production tokenizer trainers work: the corpus pass is
    * the only data-scale stage. Pair counting is overlapping (`aaa`
    * counts `(a,a)` twice); merging is non-overlapping left-to-right;
    * ties break by count desc, then pair lexicographic — all deterministic
    * and replayed verbatim by the unrolled oracle SQL.
    */
  def bpeTrain(docs: DataFrame, nMerges: Int, textCol: String = "text",
      maxWords: Int = 1 << 20): Seq[(String, String)] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val wf = docs.select(explode(tokens(col(textCol))).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("f"))
      .orderBy(col("f").desc, col("w"))
      .limit(maxWords)
      .as[(String, Long)].collect()
    var words: Array[(IndexedSeq[String], Long)] =
      wf.map { case (w, f) => (w.map(_.toString).toVector: IndexedSeq[String], f) }
    val merges = Seq.newBuilder[(String, String)]
    var k = 0
    var exhausted = false
    while (k < nMerges && !exhausted) {
      val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
      for ((syms, f) <- words; i <- 0 until syms.length - 1) {
        val key = (syms(i), syms(i + 1))
        counts(key) = counts.getOrElse(key, 0L) + f
      }
      if (counts.isEmpty) exhausted = true
      else {
        val ((a, b), _) = counts.minBy { case ((a, b), c) => (-c, a, b) }
        merges += ((a, b))
        words = words.map { case (syms, f) => (bpeMergePair(syms, a, b), f) }
        k += 1
      }
    }
    merges.result()
  }

  /** Encode one word by replaying the merge list in learned order (each
    * merge applied to all its non-overlapping occurrences). For a merge
    * list PRODUCED BY TRAINING this matches the min-rank-first loop of
    * published encoders: a pair's component symbols are created by
    * strictly earlier merges, so when rank k is replayed every pair it
    * could form already exists. (The one theoretical exception — a later
    * merge re-creating a string some earlier rule names as a component —
    * requires duplicate symbol spellings; PipelineSpec property-checks
    * the equivalence over the corpus.) Replay is O(nMerges · |word|)
    * with no heap.
    */
  def bpeEncodeWord(word: String, merges: Seq[(String, String)]): Seq[String] =
    merges.foldLeft(word.map(_.toString).toVector: IndexedSeq[String]) {
      case (syms, (a, b)) => bpeMergePair(syms, a, b)
    }

  /** Distributed BPE application: pieces per document against a broadcast
    * merge list — same plumbing as [[wordpiece]] (typed map,
    * embarrassingly parallel, no shuffle at any scale; real merge lists
    * are ~32k rules ≈ 1 MB broadcast). A per-partition word→pieces cache
    * makes the cost per partition `O(distinct words)`, not
    * `O(token stream)` — Zipf's law gives it a near-total hit rate, and
    * its size is bounded by the partition's vocabulary.
    */
  def bpeEncode(docs: DataFrame, merges: Seq[(String, String)],
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(merges.toVector)
    docs.select(col(idCol).cast("long"), col(textCol))
      .as[(Long, String)]
      .mapPartitions { it =>
        val cache = scala.collection.mutable.HashMap.empty[String, Seq[String]]
        it.map { case (id, text) =>
          val pieces = text.split(" ", -1).iterator.filter(_.nonEmpty)
            .flatMap(w => cache.getOrElseUpdate(w, bpeEncodeWord(w, bc.value)))
            .toSeq
          (id, pieces, pieces.size)
        }
      }
      .toDF(idCol, "pieces", "n_pieces")
  }

  /** Character-level Shannon entropy per document — the
    * gibberish/boilerplate signal of RefinedWeb/FineWeb-class pipelines
    * (very low entropy = repeated padding, very high = binary junk or
    * encoded blobs). Emits (id, n_chars, n_unique_chars, entropyQ) where
    * `entropyQ` is the entropy in integer NANO-NATS: each character's
    * term `-p·ln p` is quantized to 1e-9 before an order-free long sum —
    * the cross-engine determinism pattern of the corpus-stats gate, so
    * no summation order can flip a rounding boundary against the oracle.
    * Callers convert to bits via `entropyQ / 1e9 / ln 2`. Typed per-row
    * map, no shuffle at any scale (a Column form would walk the char
    * array once per distinct char — the shingleHashes ~10× note).
    */
  def charEntropy(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col(idCol).cast("long"), col(textCol))
      .as[(Long, String)]
      .map { case (id, text) =>
        // iterate CODEPOINTS, not UTF-16 units: the DuckDB oracle counts
        // codepoints (regexp '(?s).', length()), so a non-BMP char
        // (emoji, supplementary CJK) must be ONE char here too
        val counts = new java.util.HashMap[Int, Int]
        var i = 0
        var n = 0
        while (i < text.length) {
          val cp = text.codePointAt(i)
          counts.merge(cp, 1, Integer.sum _)
          i += Character.charCount(cp)
          n += 1
        }
        val t = n.toDouble
        var sumQ = 0L
        val it = counts.values.iterator()
        while (it.hasNext) {
          val p = it.next() / t
          sumQ += Math.round(-(p * Math.log(p)) * 1e9)
        }
        (id, n.toLong, counts.size.toLong, sumQ)
      }
      .toDF(idCol, "n_chars", "n_unique_chars", "entropyQ")
  }

  private val FpMod = 1L << 40

  /** Rolling polynomial fingerprint over tokens:
    * `h = (h*31 + md5hash60(tok) mod 2^40) mod 2^40` — order-sensitive,
    * deterministic, overflow-free in engines with checked 64-bit
    * arithmetic (DuckDB).
    */
  def fingerprint(text: Column): Column =
    aggregate(
      transform(tokens(text), t => pmod(GraftFunctions.md5Hash60(t), lit(FpMod))),
      lit(0L),
      (acc, h) => pmod(acc * 31 + h, lit(FpMod)))

  /** Heaps-law vocabulary growth curve: docs in ingestion (`idCol`)
    * order are cut into `nBuckets` equal slices, and each slice reports
    * the CUMULATIVE doc / token / distinct-vocabulary counts up to its
    * end — the V(N) curve whose flattening (or not) prices tokenizer
    * vocab sizes and hash-table capacity for a growing corpus. All
    * counts are exact integers.
    *
    * Scale shape: the rank window runs over an ids-only projection
    * (8 bytes/row — never the text), the corpus-sized pass is one
    * tokenize+explode whose per-token state is `min(bucket)` (map-side
    * combined), and the cumulative window is `nBuckets` rows. On a real
    * cluster the ids-only rank would come from a range-partitioned sort
    * (ingestion order is usually already a partition column); the
    * semantics here only need the slice BOUNDARIES, not a total order.
    */
  def heapsGrowth(docs: DataFrame, nBuckets: Int = 10,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = CacheScope.eager { cache =>
    require(nBuckets > 0, "nBuckets > 0")
    val ids = docs.select(col(idCol))
      .withColumn("rn", row_number().over(Window.orderBy(col(idCol))).cast("long"))
      .withColumn("nn", count(lit(1)).over(Window.partitionBy()))
      .select(col(idCol),
        (expr(s"((rn - 1) * $nBuckets) div nn") + 1).as("bucket"))
    // bucket-tagged token stream feeds BOTH aggregations (token totals,
    // first-bucket-per-term) — kept so the tokenize pass runs once
    val toks = cache.keep(withTokens(docs, textCol)
      .join(ids, Seq(idCol))
      .select(col("bucket"), explode(col("w_")).as("token")))
    val tokPerB = toks.groupBy("bucket").agg(count(lit(1)).as("tb"))
    val vocabPerB = toks.groupBy("token").agg(min(col("bucket")).as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("vb"))
    val docsPerB = ids.groupBy("bucket").agg(count(lit(1)).as("db"))
    val wc = Window.orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docsPerB.join(tokPerB, Seq("bucket"), "left")
      .join(vocabPerB, Seq("bucket"), "left")
      .select(col("bucket"),
        sum(col("db")).over(wc).as("n_docs"),
        sum(coalesce(col("tb"), lit(0L))).over(wc).as("n_tokens"),
        sum(coalesce(col("vb"), lit(0L))).over(wc).as("vocab"))
  }

  /** Zipf rank–frequency fit: OLS of ln(freq) on ln(rank) over the
    * corpus's `topK` most frequent tokens (frequency-desc, token-asc
    * total order) — slope ≈ −1 is the natural-language signature; a
    * much flatter slope flags templated/synthetic text. Per-row ln
    * terms are quantized to a 1e-6 integer grid before the order-free
    * moment sums, so both engines fit from identical integers; the
    * slope/intercept are one fixed-shape float expression each.
    *
    * Scale shape: token counts are one map-side-combined shuffle; the
    * top-K selection is a distributed TakeOrdered (never a vocab-wide
    * rank window); everything after runs on K rows.
    */
  def zipfFit(docs: DataFrame, topK: Int = 100,
      textCol: String = "text"): DataFrame = {
    val top = withTokens(docs, textCol)
      .select(explode(col("w_")).as("token"))
      .groupBy("token").agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("token")).limit(topK)
    val q = top
      .withColumn("rank",
        row_number().over(Window.orderBy(col("freq").desc, col("token")))
          .cast("long"))
      .select(
        floor(log(col("rank").cast("double")) * 1e6 + 0.5).cast("long").as("qx"),
        floor(log(col("freq").cast("double")) * 1e6 + 0.5).cast("long").as("qy"))
    val m = q.agg(count(lit(1)).as("n_terms"),
      sum(col("qx")).as("sx"), sum(col("qy")).as("sy"),
      sum(col("qx") * col("qy")).as("sxy"),
      sum(col("qx") * col("qx")).as("sxx"))
    val slope = (col("n_terms") * col("sxy") - col("sx") * col("sy"))
      .cast("double") /
      (col("n_terms") * col("sxx") - col("sx") * col("sx")).cast("double")
    m.select(col("n_terms"), slope.as("slope"),
      ((col("sy").cast("double") - slope * col("sx").cast("double")) /
        (col("n_terms").cast("double") * lit(1e6))).as("intercept"))
  }

  /** Interpolated Kneser–Ney bigram scoring (Chen & Goodman 1999, the
    * smoothing KenLM defaults to): held-out docs (odd ids) scored
    * against train-half (even ids) counts with absolute discount `d`:
    * `P(w₂|w₁) = max(c(w₁w₂)−d, 0)/c(w₁) + d·N₁₊(w₁·)/c(w₁) ·
    * Pcont(w₂)` where `Pcont(w₂) = N₁₊(·w₂)/|bigram types|` — the
    * continuation probability that makes "Francisco" cheap only after
    * "San". Unseen w₁ backs off to Pcont directly; positions whose w₂
    * has no continuation mass are skipped and counted (`n_skip` — the
    * true-OOV residue). Per-position −ln P is quantized to a 1e-6
    * integer grid before the order-free per-doc sum.
    *
    * Scale shape: the bigram relation is persisted once and feeds all
    * count branches; every join is a plain shuffle join on a gram/token
    * key (the bigram-type table outgrows broadcast range at corpus
    * scale); |types| rides as a broadcast 1-row frame.
    */
  def knNll(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", discount: Double = 0.75): DataFrame = CacheScope.eager { cache =>
    val bg = cache.keep(withTokens(docs, textCol)
      .filter(size(col("w_")) >= 2)
      .select(col(idCol), explode(ngramsOf(col("w_"), 2)).as("g"))
      .withColumn("w1", substring_index(col("g"), " ", 1))
      .withColumn("w2", substring_index(col("g"), " ", -1)))
    // train-half bigram types feed FIVE branches (c2 join, c1, N1+(w1·),
    // N1+(·w2), |types|) — kept, or the tokenize+ngram+count chain
    // re-runs per branch
    val c2 = cache.keep(bg.filter(pmod(col(idCol), lit(2)) === 0)
      .groupBy("w1", "w2").agg(count(lit(1)).as("c2")))
    val c1n1f = c2.groupBy("w1")
      .agg(sum(col("c2")).as("c1"), count(lit(1)).as("n1f"))
    val n1r = c2.groupBy("w2").agg(count(lit(1)).as("n1r"))
    val tdf = c2.agg(count(lit(1)).as("t_"))
    val pcont = col("n1r").cast("double") / col("t_").cast("double")
    val p = when(col("c1").isNotNull,
      (greatest(coalesce(col("c2"), lit(0L)).cast("double") - discount,
        lit(0.0)) +
        (lit(discount) * col("n1f").cast("double")) * pcont) /
        col("c1").cast("double"))
      .otherwise(pcont)
    bg.filter(pmod(col(idCol), lit(2)) === 1)
      .join(c2, Seq("w1", "w2"), "left")
      .join(c1n1f, Seq("w1"), "left")
      .join(n1r, Seq("w2"), "left")
      .crossJoin(broadcast(tdf))
      .withColumn("q_", when(col("n1r").isNotNull,
        floor(-log(p) * 1e6 + 0.5).cast("long")))
      .groupBy(col(idCol))
      .agg(sum(when(col("n1r").isNotNull, 1L).otherwise(0L)).as("n_scored"),
        sum(when(col("n1r").isNull, 1L).otherwise(0L)).as("n_skip"),
        sum(col("q_")).as("nllq"))
      .filter(col("n_scored") > 0)
      .select(col(idCol), col("n_scored"), col("n_skip"),
        (col("nllq").cast("double") /
          (col("n_scored").cast("double") * lit(1e6))).as("nll"))
  }

  /** Unigram-LM vocabulary TRAINING (the SentencePiece seed+prune shape,
    * reduced to its deterministic core): candidate pieces are every
    * distinct 2..maxLen-char substring of each corpus word, weighted by
    * the word's instance count (word-level document frequency — a piece
    * counts once per word type, times how often the word occurs); the
    * vocabulary is the top `k` pieces by (weight DESC, piece ASC), each
    * scored `200·len + 32·bits(weight)` (bits = binary digit count, the
    * exact-integer log₂ surrogate — cross-engine, no float log).
    *
    * Scale shape: the only corpus pass is the word-count aggregate; the
    * substring explosion runs on the DISTINCT-WORD relation (the
    * vocabulary, Zipf-bounded), and the trained table is k rows —
    * exactly the [[bpeTrain]] contract (training cost rides the
    * vocabulary-sized aggregate, never the token stream).
    */
  def unigramTrain(docs: DataFrame, k: Int = 48, maxLen: Int = 4,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val wc = docs
      .select(explode(split(col(textCol), " ", -1)).as("w"))
      .filter(col("w") =!= "")
      .groupBy("w").agg(count(lit(1)).as("wcnt"))
      .as[(String, Long)]
    val pieces = wc.flatMap { case (w, cnt) =>
      val seen = scala.collection.mutable.HashSet.empty[String]
      val out = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
      var l = 2
      while (l <= maxLen) {
        var i = 0
        while (i + l <= w.length) {
          val s = w.substring(i, i + l)
          if (seen.add(s)) out += ((s, cnt))
          i += 1
        }
        l += 1
      }
      out
    }.toDF("p", "cnt")
    val ranked = pieces.groupBy("p").agg(sum(col("cnt")).as("weight"))
      .withColumn("rank", row_number().over(
        Window.orderBy(col("weight").desc, col("p"))))
      .filter(col("rank") <= k)
    ranked.select(col("rank").cast("long").as("rank"), col("p").as("piece"),
      col("weight"),
      (lit(200L) * length(col("p")) +
        lit(32L) * length(conv(col("weight"), 10, 2))).cast("long")
        .as("score"))
  }

  /** Unigram-LM (SentencePiece-style, Kudo 2018) VITERBI segmentation —
    * the third major subword family next to [[bpeEncode]] and
    * [[wordpiece]]: each word takes the segmentation that maximizes its
    * total piece score under a fixed scored vocabulary, found by exact
    * DP over character positions (not greedy longest-match).
    *
    * Determinism contract (oracle-replayable): piece scores are pure
    * integers derived from the piece itself —
    * `500·len(p) + (md5h60(p) mod 400)` for vocabulary pieces, 100 for
    * the implicit single-character fallback (every 1-char string is a
    * piece, so any word segments) — and the DP maximizes the ADDITIVE
    * key `128·score − n_pieces`, which encodes the (max score, then
    * fewest pieces) tie-break in one integer: per-position argmax over
    * this key is a plain integer comparison both engines replay exactly
    * (n_pieces ≤ word length < 128, so the decomposition
    * `n = (128 − key mod 128) mod 128` is lossless).
    *
    * 100 TB shape: the scored vocabulary rides the closure (real vocabs
    * are ~1 MB), the DP is per-word JVM work behind a per-partition
    * word cache (cost ∝ partition vocabulary, not token stream — the
    * [[bpeEncode]] plumbing), and nothing shuffles but the final
    * per-doc rows.
    */
  def unigramEncode(docs: DataFrame, vocab: Seq[String], maxLen: Int = 4,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(vocab.forall(p => p.length >= 2 && p.length <= maxLen),
      "vocab pieces must be 2..maxLen chars (singles are implicit)")
    val spark = docs.sparkSession
    import spark.implicits._
    // driver-precomputed additive keys: key(p) = 128·score(p) − 1
    val pieceKey: Map[String, Long] = vocab.map { p =>
      val score = 500L * p.length +
        graft.functions.GraftFunctions.md5Hash60Jvm(p) % 400L
      p -> (score * 128L - 1L)
    }.toMap
    val singleKey = 100L * 128L - 1L
    docs
      .select(col(idCol).cast("long"), col(textCol))
      .as[(Long, String)]
      .mapPartitions { it =>
        val cache = scala.collection.mutable.HashMap.empty[String, Long]
        def wordKey(w: String): Long = cache.getOrElseUpdate(w, {
          val n = w.length
          val bs = new Array[Long](n + 1)
          var j = 1
          while (j <= n) {
            var best = bs(j - 1) + singleKey
            var l = 2
            while (l <= maxLen && l <= j) {
              pieceKey.get(w.substring(j - l, j)) match {
                case Some(k) =>
                  val c = bs(j - l) + k
                  if (c > best) best = c
                case scala.None => ()
              }
              l += 1
            }
            bs(j) = best
            j += 1
          }
          bs(n)
        })
        it.map { case (id, text) =>
          var words = 0L
          var pieces = 0L
          var score = 0L
          text.split(" ", -1).foreach { w =>
            if (w.nonEmpty) {
              words += 1
              val k = wordKey(w)
              val np = ((128L - k % 128L) % 128L)
              pieces += np
              score += (k + np) / 128L
            }
          }
          (id, words, pieces, score)
        }
      }
      .toDF("doc_id", "n_words", "n_pieces", "score")
  }
}
