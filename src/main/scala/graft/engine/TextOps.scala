package graft.engine

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Text-analysis operators for large-scale training-data pipelines
  * (beyond-reference extensions; BASELINE.json north-star): quality
  * scoring, language identification, token counting, and document
  * fingerprinting over the `documents` fixture.
  *
  * Scale design: every operator is a narrow per-row projection built from
  * codegen'd `functions._` + array higher-order functions — no UDFs, no
  * shuffles, no driver round-trips; a 100 TB corpus maps straight through.
  */
object TextOps {
  type Q = (SparkSession, String) => DataFrame

  /** Shared stopword list (fixture vocab carries `the`/`a`/`of`-style
    * function words; FIXTURES.md §B).
    */
  val Stopwords: Seq[String] = Seq("the", "a", "value", "data")

  /** The SHARED tokenizer for every text-analysis operator: the
    * script-aware segmentation (identical to whitespace split on Latin
    * text, per-codepoint on CJK/Thai — see [[segmentTokens]]), so the
    * quality/LM/BM25/sketch chain measures real tokens on a
    * multilingual corpus. Operators whose semantics are EXPLICITLY
    * whitespace (`ws_tokens` in [[tokenCount]]/[[segmentCjk]]) call
    * `split` directly.
    */
  private def tokens: Column = segmentTokens(col("text"))

  /** Tokenized corpus `(doc_id, lang, ws = segmentTokens(text))` —
    * CACHED + MEMOIZED per (session, dir), the [[Dedup.shingleIds]]
    * pattern (r20, guide §2.4): the segmentation regex is the single
    * most expensive map pass in the text family, and before this memo
    * the multi-branch queries re-ran it once PER PLAN BRANCH
    * (collocations 4×, bm25 4×, salientTerms 3×, unigram LM 3×,
    * bigramCoverage 2× — measured as independent Scan+regexp subtrees
    * in every formatted plan). Only queries that tokenized ≥2×
    * consume the memo; single-pass operators keep their own scan. A
    * production pipeline persists this table once (the comment every
    * consumer already carried); the cache spills to disk at scale and
    * is evicted with the session. `private[engine]`: the substring-dedup
    * family ([[Dedup.substringDedup]] and siblings) rides the SAME
    * tokenized pass — its window grid is defined over segmentTokens.
    * Deliberately NARROW (doc_id, lang, ws): widening it (e.g. carrying
    * `source` for [[Dedup.dedupReport]]) was measured to push the
    * cached relation's size estimate over the broadcast threshold at
    * sf0.1 and demote q_vocab_growth's BroadcastHashJoin to a
    * SortMergeJoin — the narrow projection is worth more than saving
    * one consumer's token-count pass (guide §2: project early).
    */
  private[engine] def tokenizedDocs(spark: SparkSession,
      dir: String): DataFrame =
    // r21 (guide §5, VERDICT r20 #1): SERIALIZED in-memory storage —
    // the cache lives for the whole session, and the serialized form
    // cuts the heap held against every later query's execution memory
    SessionMemo.cached(spark, s"textops.tokenizedDocs:$dir",
        StorageLevel.MEMORY_AND_DISK_SER) {
      Tables.documents(spark, dir)
        .select(col("doc_id"), col("lang"), tokens.as("ws"))
    }

  // ===== script-aware deterministic segmentation (CJK-safe) ==========

  /** BMP codepoint ranges segmented PER CODEPOINT: CJK Unified
    * Ideographs (+ Extension A), Hiragana+Katakana, precomposed Hangul
    * syllables, and Thai. Unsegmented scripts have no whitespace word
    * boundaries, so every whitespace-token operator collapses a
    * Chinese/Japanese/Thai line to ONE "word" — per-codepoint tokens
    * are the standard deterministic fallback (mBERT-style CJK
    * char-splitting) that keeps token counts, quality rules, and BPE
    * pre-tokenization meaningful on a multilingual corpus. BMP-only by
    * contract: supplementary-plane ideographs (CJK Ext B+) fall into
    * word runs on BOTH engines (Java regex walks UTF-16 units, RE2
    * walks codepoints, but a surrogate pair can never straddle a run
    * boundary, so the two tokenizations agree — the one behavior class
    * where they could differ is pinned consistent).
    */
  val SegPerCharClass: String =
    "一-鿿㐀-䶿぀-ヿ가-힯฀-๿"

  /** Whitespace for the word-run class: explicit list, NOT `\s` (Java
    * includes U+000B where RE2 does not), plus the ideographic space.
    */
  private val SegWsClass: String = " \\t\\n\\r　"

  /** The SAME whitespace set as actual characters (SegWsClass spells
    * tab/newline as regex escapes) — consumed by the native
    * [[graft.functions.QualityStats]] scanner, which must tokenize
    * byte-for-byte like [[SegPattern]].
    */
  private[graft] val SegWsChars: String = " \t\n\r　"

  /** One token = a single per-char-script codepoint OR a maximal run of
    * anything else that is not whitespace. Latin text tokenizes exactly
    * as whitespace split (minus empty tokens), so the segmented chain
    * is a drop-in on an already-segmented corpus.
    */
  val SegPattern: String = s"[$SegPerCharClass]|[^$SegWsClass$SegPerCharClass]+"

  /** The shared tokenizer: one codegen'd regexp pass, zero exchanges. */
  def segmentTokens(c: Column): Column =
    regexp_extract_all(c, lit(SegPattern), lit(0))

  /** DuckDB mirror of [[segmentTokens]] — same pattern text verbatim
    * (RE2 and Java agree on every construct used: explicit classes,
    * literal BMP chars, `+`).
    */
  def segmentSql(e: String): String =
    s"regexp_extract_all($e, '$SegPattern')"

  /** Quality scoring: token counts, per-token length, stopword ratio,
    * lexical diversity, and a composite [0,1] score — the heuristics used
    * to filter web corpora before LLM training. All ratios are small-int
    * divisions (bit-exact in any engine).
    */
  def textQuality(spark: SparkSession, dir: String): DataFrame = {
    // ONE native scan per row (n_tok/n_distinct/stopword instances);
    // the composed form re-tokenized the row once per ratio column —
    // see [[graft.functions.TokenSetStats]]
    val qs = graft.functions.StringFunctions.token_set_stats(
      col("text"), SegPerCharClass, SegWsChars, Seq(Stopwords))
    val nTok = col("qs.n_tok")
    val nStop = col("qs.set_counts").getItem(0)
    val nDistinct = col("qs.n_distinct")
    // token-free text (possible under segmentation, unlike whitespace
    // split) must not reach the divisions: ratios are null for it
    def ifTok(c: Column): Column = when(nTok > 0, c)
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("n_chars"), qs.as("qs"))
      .select(
        col("doc_id"),
        nTok.as("n_tokens"),
        ifTok(round(col("n_chars").cast("double") / nTok, 6))
          .as("chars_per_token"),
        ifTok(round(nStop.cast("double") / nTok, 6)).as("stopword_ratio"),
        ifTok(round(nDistinct.cast("double") / nTok, 6))
          .as("distinct_ratio"),
        ifTok(round(least(nTok.cast("double") / 50, lit(1.0)) *
          (lit(1.0) - nStop.cast("double") / nTok), 6))
          .as("quality_score"))
  }

  /** Marker-word language ID (n-gram/stopword heuristic): score per
    * language = count of language-marker tokens; argmax with a fixed
    * tie-break order. The fixture vocabulary is language-independent, so
    * accuracy is not the point here — the operator shape (per-language
    * scores → deterministic argmax → agreement flag vs the labeled `lang`
    * column) is what a real corpus pipeline runs.
    */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "fast", "slow"),
    "de" -> Seq("der", "die", "das", "und"),
    "es" -> Seq("el", "la", "de", "que"),
    "fr" -> Seq("le", "la", "et", "les"),
    "zh" -> Seq("de", "shi", "le", "zai"))

  def langId(spark: SparkSession, dir: String): DataFrame = {
    // one native scan counts every language's markers together
    // ([[graft.functions.TokenSetStats]]); the composed form
    // re-tokenized the row once per language score
    val qs = graft.functions.StringFunctions.token_set_stats(
      col("text"), SegPerCharClass, SegWsChars, LangMarkers.map(_._2))
    val scores = LangMarkers.zipWithIndex.map { case ((lang, _), i) =>
      lang -> col("qs.set_counts").getItem(i)
    }
    val best = greatest(scores.map(_._2): _*)
    // first language (in declaration order) reaching the max score wins
    val predicted = scores.reverse.foldLeft(lit("unknown")) {
      case (acc, (lang, s)) => when(s === best && best > 0, lang).otherwise(acc)
    }
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), qs.as("qs"))
      .select(
        col("doc_id"), col("lang"),
        scores.head._2.as("score_en"),
        predicted.as("predicted_lang"),
        (predicted === col("lang")).as("agree"))
  }

  /** Token counting four ways: whitespace split, the script-aware
    * segmentation ([[segmentTokens]] — identical to whitespace on Latin
    * text, per-codepoint on CJK/Thai, the count a multilingual token
    * budget must use), a BPE-ish regex pass (letter runs / digit runs /
    * other), and the chars/4 estimate used for quick corpus sizing.
    */
  def tokenCount(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).select(
      col("doc_id"),
      size(split(col("text"), " ")).cast("long").as("ws_tokens"),
      size(tokens).cast("long").as("seg_tokens"),
      size(regexp_extract_all(col("text"), lit("[a-z]+|[0-9]+"), lit(0)))
        .cast("long").as("re_tokens"),
      ceil(col("n_chars") / lit(4.0)).cast("long").as("est_bpe_tokens"))

  /** Planted multilingual docs for [[segmentCjk]]: Han with no spaces,
    * mixed Han/Latin/digits, Japanese kana+kanji, spaced Hangul, Thai
    * with combining marks (each mark its own codepoint token — the
    * documented crudeness of the per-codepoint fallback), and a Latin
    * control row that must tokenize identically to whitespace split.
    */
  private[graft] val SegPlantedRows: PlantedRows[(Long, String)] =
    PlantedRows("doc_id", "text")(
      (992001L, "大规模语料上训练模型"),
      (992002L, "GPU集群训练 batch 大小 128"),
      (992003L, "データでモデルを学習する"),
      (992004L, "대규모 언어 모델"),
      (992005L, "ภาษาไทยไม่มีช่องว่าง"),
      (992006L, "plain latin text stays whitespace split"))

  /** Script-aware segmentation audit — the proof query for
    * [[segmentTokens]]: whitespace vs segmented token counts,
    * per-script codepoint counts, and the portable polynomial
    * fingerprint of the SPACE-JOINED segmented stream, which hash-pins
    * the exact token boundaries (not just counts) against the oracle's
    * independent RE2 tokenization. Zero exchanges — one regexp pass and
    * one byte fold per row.
    */
  def segmentCjk(spark: SparkSession, dir: String): DataFrame = {
    val src = SegPlantedRows.onto(Tables.documents(spark, dir))
    val seg = segmentTokens(col("text"))
    def classCount(cls: String): Column =
      size(regexp_extract_all(col("text"), lit(s"[$cls]"), lit(0)))
    src.select(col("doc_id"),
      size(split(col("text"), " ")).cast("long").as("ws_tokens"),
      size(seg).cast("long").as("seg_tokens"),
      classCount("一-鿿㐀-䶿").cast("long").as("n_han"),
      classCount("぀-ヿ").cast("long").as("n_kana"),
      classCount("가-힯").cast("long").as("n_hangul"),
      classCount("฀-๿").cast("long").as("n_thai"),
      graft.functions.StringFunctions.utf8_poly_id(
        concat_ws(" ", seg), Dedup.IdMod).as("seg_fp"))
  }

  /** Maximal non-whitespace run — the "word" grid fertility is measured
    * against. Built from [[SegWsClass]] (the explicit list, not `\s`) so
    * both regex engines agree byte-for-byte; a CJK line with no spaces
    * is ONE word under this grid, which is exactly the signal fertility
    * exposes.
    */
  private val WordRunPattern: String = s"[^$SegWsClass]+"

  /** Tokenizer fertility audit per language — the standard multilingual
    * tokenizer-selection table (tokens per word, bytes per token, chars
    * per token by language). Fertility ≈ 1 on whitespace-segmented
    * languages and ≫ 1 on unsegmented scripts, because the word grid is
    * the whitespace run while the token grid is the script-aware
    * segmentation ([[segmentTokens]]); the planted CJK rows (labeled
    * with their own `lang` so the audit row is visible) pin that
    * contrast exactly. A corpus whose fertility row explodes is one
    * whose token budgets, quality rules, and context-window packing are
    * all mis-calibrated — this audit is how a pipeline notices BEFORE
    * training.
    *
    * Scale shape: one map pass (two regexp counts + two length
    * functions per row) into one `groupBy(lang)` exchange of
    * nLangs×5-long partial sums — map-side combined, no second
    * exchange. Per-lang sums are exact BIGINTs (bytes per lang bound
    * 2⁶³ ≈ 9.2 EB); the three ratios are the house one-mirrored-double-
    * division + round(...,6), guarded so a zero-word or zero-token
    * language reports null instead of dividing.
    */
  def tokenizerFertility(spark: SparkSession, dir: String): DataFrame = {
    val src = Tables.documents(spark, dir).select(
        col("doc_id"), col("text"), col("lang"))
      .unionByName(SegPlantedRows.frame(spark)
        .withColumn("lang", lit("xx_planted")))
    val perDoc = src.select(
      col("lang"),
      octet_length(col("text")).cast("long").as("nb"),
      length(col("text")).cast("long").as("nc"),
      size(regexp_extract_all(col("text"), lit(WordRunPattern), lit(0)))
        .cast("long").as("nw"),
      size(segmentTokens(col("text"))).cast("long").as("ns"))
    def ratio(num: Column, den: Column): Column =
      when(den > 0, round(num.cast("double") / den, 6))
    perDoc.groupBy("lang").agg(
        count(lit(1)).as("n_docs"),
        sum(col("nb")).as("n_bytes"),
        sum(col("nc")).as("n_chars"),
        sum(col("nw")).as("n_words"),
        sum(col("ns")).as("n_seg_tokens"))
      .select(col("lang"), col("n_docs"), col("n_bytes"), col("n_chars"),
        col("n_words"), col("n_seg_tokens"),
        ratio(col("n_seg_tokens"), col("n_words")).as("fertility"),
        ratio(col("n_bytes"), col("n_seg_tokens")).as("bytes_per_token"),
        ratio(col("n_chars"), col("n_seg_tokens")).as("chars_per_token"))
  }

  /** Rolling polynomial fingerprint over a string column's characters
    * (acc = acc*base + ascii(ch) mod m) — an order-sensitive content
    * hash computed entirely with integer arithmetic, so it is
    * engine-portable (unlike builtin hash functions, which differ per
    * engine). The empty-string filter matters: Spark's `split` keeps a
    * trailing "" element that DuckDB's splitter drops. Reused as the
    * content key of [[Curation.corpusCurate]]'s keeper window.
    */
  def portableFp(c: Column, base: Long, mod: Long): Column = {
    val chars = filter(split(c, ""), ch => length(ch) > 0)
    aggregate(chars, lit(0L), (acc, ch) => (acc * base + ascii(ch)) % mod)
  }

  /** DuckDB mirror of [[portableFp]] for oracle SQL. */
  def portableFpSql(expr: String, base: Long, mod: Long): String =
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), " +
      s"list_transform(string_split($expr, ''), " +
      s"ch -> CAST(ascii(ch) AS BIGINT))), " +
      s"(acc, ch) -> (acc * $base + ch) % $mod)"

  def docFingerprint(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).select(
      col("doc_id"),
      portableFp(col("text"), 31, 1000000007L).as("fingerprint"),
      length(col("text")).cast("long").as("len_chars"))

  /** Per-document salient terms: the top [[SalientK]] tokens by
    * rarity-weighted frequency, salience = tf × N ÷ df (the tf-idf shape
    * with a rational rarity weight instead of ln(N/df) — integer-exact
    * until ONE final division, the house rule for cross-engine hashing;
    * ln is monotone in N/df so per-term rarity ORDER is identical, only
    * the tf interplay differs, and that choice is documented here).
    *
    * Plan shape: explode tokens once; document frequency is a
    * vocab-sized aggregate JOINED BACK on the term key (the vocab table
    * broadcasts at fixture scale and stays a key-partitioned dimension at
    * corpus scale); per-doc ranking is a window with a deterministic
    * (salience desc, term) tie-break.
    */
  val SalientK = 3

  def salientTerms(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // r20: tf reads [[tokenizedDocs]] — it feeds two branches (the df
    // aggregate and the join side), each of which re-ran the
    // segmentation regex before the memo
    val docs = Tables.documents(spark, dir)
    val nDocs = docs.select(countDistinct(col("doc_id")).as("n_docs"))
    val tf = tokenizedDocs(spark, dir)
      .select(col("doc_id"), explode(col("ws")).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val df_ = tf.groupBy("term")
      .agg(countDistinct(col("doc_id")).as("df"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("salience").desc, col("term"))
    tf.join(broadcast(df_), "term")
      .crossJoin(broadcast(nDocs))
      .withColumn("salience",
        round(col("tf").cast("double") * col("n_docs") / col("df"), 6))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= SalientK)
      .select(col("doc_id"), col("term"), col("tf"), col("df"),
        col("salience"), col("rank"))
  }

  /** BM25 retrieval scoring — the lexical counterpart of the ANN family:
    * rank the corpus for a fixed query-term set (common / medium / rare
    * df in the fixture vocabulary) with the Robertson–Sparck Jones
    * formula, RATIONAL idf variant ((N-df+0.5)/(df+0.5) without the ln —
    * ln is monotone so per-term ranking is unchanged, and keeping the
    * score a division chain of exact integers is the house cross-engine
    * rule; the choice is documented here like [[salientTerms]]'s rarity
    * weight). k1 = 1.2, b = 0.75 (the standard defaults).
    *
    * Plan shape: tokens explode once and FILTER TO THE QUERY TERMS before
    * any shuffle (the tf table is |hits|-sized, not corpus-sized); df and
    * the one-row corpus totals broadcast back; per-term ranking is a
    * window keyed by term. Operand order in the score expression is
    * mirrored exactly in the oracle so the double arithmetic is
    * bit-identical.
    */
  val Bm25K1 = 1.2
  val Bm25B = 0.75
  val Bm25TopK = 10
  val Bm25QueryTerms: Seq[String] = Seq("data", "vector", "dup")

  def bm25(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // r20: totals, dl, and tf all read [[tokenizedDocs]] — before the
    // memo each was its own scan + segmentation subtree (4 regex passes
    // counting tf's two consumers)
    val docs = tokenizedDocs(spark, dir)
    val totals = docs.agg(
      count(lit(1)).as("n_docs"),
      sum(size(col("ws"))).cast("long").as("total_tokens"))
    val dl = docs.select(col("doc_id"),
      size(col("ws")).cast("long").as("dl"))
    val tf = docs.select(col("doc_id"), explode(col("ws")).as("term"))
      .filter(col("term").isInCollection(Bm25QueryTerms))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dfT = tf.groupBy("term")
      .agg(countDistinct(col("doc_id")).as("df"))
    val w = Window.partitionBy(col("term"))
      .orderBy(col("bm25").desc, col("doc_id"))
    tf.join(broadcast(dfT), "term")
      .join(dl, "doc_id")
      .crossJoin(broadcast(totals))
      .withColumn("idf",
        (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
      .withColumn("bm25", round(
        col("idf") * (col("tf") * lit(Bm25K1 + 1)) /
          (col("tf") + lit(Bm25K1) * (lit(1 - Bm25B) +
            lit(Bm25B) * col("dl") * col("n_docs") / col("total_tokens"))),
        6))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= Bm25TopK)
      .select("term", "doc_id", "tf", "dl", "bm25", "rank")
  }

  /** Multi-term BM25 RETRIEVAL — the query the [[bm25]] scorer and the
    * inverted index exist to serve: the whole [[Bm25QueryTerms]] query
    * ranked as documents, not term postings. Each candidate document's
    * per-term BM25 contributions convert to integer micros BEFORE
    * summing (summing raw doubles would make the total depend on
    * engine-specific addition order — the per-term round(…,6) is the
    * last float op, after which everything is exact BIGINT), so the
    * document ordering is bit-deterministic cross-engine. The top-k cut
    * is `orderBy(...).limit(k)` — Spark plans TakeOrderedAndProject,
    * per-partition heaps merged at the driver over k rows, NEVER a
    * partition-less window funneling candidates through one task (the
    * per-term ranking in [[bm25]] partitions by term; a whole-query
    * ranking has no such key, so the limit form is the only shape that
    * scales with candidate count).
    */
  def bm25Search(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // r20: same [[tokenizedDocs]] rewire as [[bm25]]
    val docs = tokenizedDocs(spark, dir)
    val totals = docs.agg(
      count(lit(1)).as("n_docs"),
      sum(size(col("ws"))).cast("long").as("total_tokens"))
    val dl = docs.select(col("doc_id"),
      size(col("ws")).cast("long").as("dl"))
    val tf = docs.select(col("doc_id"), explode(col("ws")).as("term"))
      .filter(col("term").isInCollection(Bm25QueryTerms))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dfT = tf.groupBy("term")
      .agg(countDistinct(col("doc_id")).as("df"))
    val idf =
      (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))
    val perTerm = round(
      idf * (col("tf") * lit(Bm25K1 + 1)) /
        (col("tf") + lit(Bm25K1) * (lit(1 - Bm25B) +
          lit(Bm25B) * col("dl") * col("n_docs") / col("total_tokens"))),
      6)
    tf.join(broadcast(dfT), "term")
      .join(dl, "doc_id")
      .crossJoin(broadcast(totals))
      .select(col("doc_id"),
        round(perTerm * 1000000L).cast("long").as("s_micro"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_hit_terms"),
        sum(col("s_micro")).as("score_micro"))
      .orderBy(col("score_micro").desc, col("doc_id"))
      .limit(Bm25TopK)
  }

  /** Unigram-LM document scoring — the corpus-statistics quality filter a
    * training pipeline runs after the heuristic [[textQuality]] pass:
    * score every document by how typical its tokens are under the
    * corpus's own unigram distribution (gibberish / OCR noise / wrong-
    * language text scores low; fluent text scores high). The statistic is
    * the ARITHMETIC-mean token probability `Σ c·cnt / (n_tokens·N)` —
    * the rational-arithmetic member of the unigram-score family (the
    * geometric mean / perplexity needs `ln`, which the house cross-engine
    * rule avoids; bm25 above makes the same trade for its idf). The
    * numerator `Σ c·cnt` stays exact BIGINT in both engines; the only
    * float op is one mirrored division chain at the end.
    *
    * Plan shape: tokens explode into the map-side-combined (doc, term, c)
    * table; the vocabulary is a corpus-level aggregate that Heaps' law
    * keeps orders of magnitude smaller than the corpus — it broadcasts at
    * fixture scale and becomes a key-partitioned dimension join at
    * 100 TB, the [[salientTerms]] shape. The token grand total comes from
    * a plain scan-side `sum(size(tokens))` (the [[bm25]] shape) rather
    * than re-aggregating the vocab — a third explode+shuffle subtree for
    * one scalar would triple the heaviest stage. Division runs AFTER the
    * per-doc aggregate, on one row per document.
    */
  def unigramProb(spark: SparkSession, dir: String): DataFrame = {
    // r20: the scalar total reads [[tokenizedDocs]] like the doc
    // aggregate under it — one segmentation pass for the whole LM family
    val docs = tokenizedDocs(spark, dir)
    val totals = docs.agg(sum(size(col("ws"))).cast("long").as("n_total"))
    unigramDocAgg(spark, dir)
      .crossJoin(broadcast(totals))
      // chained /: keeps every intermediate a double (a single
      // n_tokens·N product would overflow Long at corpus scale) and
      // mirrors the oracle's operand order exactly
      .select(col("doc_id"), col("n_tokens"), col("sum_cnt"),
        round(col("sum_cnt").cast("double") / col("n_tokens")
          / col("n_total"), 9).as("mean_prob"))
  }

  /** The corpus-normalization-free half of [[unigramProb]]: per-doc
    * exact-BIGINT `(n_tokens, sum_cnt)` under the corpus unigram
    * distribution. Shared with [[perplexityBucket]], whose ranking
    * statistic cancels the `1/N` factor — splitting here keeps the
    * bucket query's plan free of the 1-row totals broadcast the
    * mean-prob division needs.
    */
  private def unigramDocAgg(spark: SparkSession, dir: String): DataFrame = {
    // r20: tf reads [[tokenizedDocs]] — it feeds the vocab aggregate
    // AND the join side, each formerly a full segmentation subtree
    val tf = tokenizedDocs(spark, dir)
      .select(col("doc_id"), explode(col("ws")).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("c"))
    val vocab = tf.groupBy("term").agg(sum(col("c")).as("cnt"))
    tf.join(broadcast(vocab), "term")
      .groupBy("doc_id")
      .agg(sum(col("c")).cast("long").as("n_tokens"),
        sum(col("c") * col("cnt")).cast("long").as("sum_cnt"))
  }

  /** CCNet-style perplexity bucketing — the canonical consumer of a
    * corpus LM score (Wenzek et al., "CCNet", LREC 2020): within each
    * LANGUAGE, rank documents by how typical their tokens are under the
    * corpus's own unigram distribution and label the terciles
    * `head`/`middle`/`tail` (CCNet trains on `head`+`middle` and drops
    * `tail`; the bucket column is the knob). The score is
    * [[unigramProb]]'s exact-BIGINT numerator collapsed to a per-doc
    * integer rate `sum_cnt·10⁶ div n_tokens` — corpus-size-invariant
    * ranking (the `1/N` factor is constant within a corpus) with zero
    * float ops, so both engines order identically; ties break on
    * `doc_id`. Requires `sum_cnt < 2⁶³/10⁶` (≈9.2e12 token-count mass
    * per doc) — holds whenever n_tokens·max_term_count stays below that,
    * loudly past any real document.
    *
    * Plan shape: the LM join is [[unigramProb]]'s (two map-side-combined
    * exchanges + broadcast vocab); bucketing adds ONE window exchange
    * partitioned by `lang` — the per-language sort is CCNet's own
    * design. At 100 TB a dominant language makes that partition
    * corpus-sized; production swaps the exact rank for broadcast
    * score-threshold cutoffs estimated from a sample (map-side compare,
    * no sort) — the exact-rank form here is what makes the oracle twin
    * byte-equal, and is the reference implementation those thresholds
    * are validated against.
    */
  def perplexityBucket(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scored = unigramDocAgg(spark, dir).select(col("doc_id"),
      expr("CAST(sum_cnt * 1000000L DIV n_tokens AS BIGINT)")
        .as("score_ppm"))
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("score_ppm").desc, col("doc_id"))
    val wl = Window.partitionBy(col("lang"))
    Tables.documents(spark, dir).select("doc_id", "lang")
      .join(scored, "doc_id")
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("n_lang", count(lit(1)).over(wl))
      .select(col("doc_id"), col("lang"), col("score_ppm"),
        when(col("rn") * 3 <= col("n_lang"), lit("head"))
          .when(col("rn") * 3 <= col("n_lang") * 2, lit("middle"))
          .otherwise(lit("tail")).as("bucket"))
  }

  /** Corpus-frequency floor for [[bigramCoverage]]: a bigram is "common"
    * when its corpus-wide instance count reaches this. The floor is what
    * bounds the common set — Zipf puts the overwhelming mass of DISTINCT
    * bigrams below any fixed count, so the surviving dimension stays
    * broadcastable long after the corpus itself stops being.
    */
  val BigramMinCount = 3

  /** Bigram-LM coverage scoring — the bigram member of the n-gram quality
    * family next to [[unigramProb]]: the fraction (in ppm) of a document's
    * bigram INSTANCES that are "common" corpus-wide (count ≥
    * [[BigramMinCount]]). Fluent text is built almost entirely from
    * recurring word pairs; OCR noise, shuffled text, and wrong-language
    * interleavings score low even when their unigrams are all ordinary —
    * the word-order signal the unigram score cannot see. This is the
    * count-based stand-in for an LM perplexity filter (CCNet-style) under
    * the house cross-engine rule: no `ln`, so coverage replaces log-prob,
    * and the score is an exact integer (`hits·10⁶ DIV n_bigrams` — both
    * engines floor-divide BIGINTs, zero float drift).
    *
    * Plan shape: bigrams come from one `zip_with` over the token array
    * (array(i) ⊗ array(i+1), codegen'd, no self-join) and explode once;
    * the common set is a corpus aggregate of that exploded table,
    * broadcast back for the per-doc hit count ([[salientTerms]]'s
    * join-back shape). Docs with <2 tokens have no bigrams and drop out,
    * mirrored by the oracle's empty `range`.
    */
  def bigramCoverage(spark: SparkSession, dir: String): DataFrame = {
    // zip_with pads the shorter side with null, so the trailing pair is
    // (last, null) → concat null → filtered: exactly size-1 bigrams
    val bigrams = expr(
      "filter(zip_with(ws, slice(ws, 2, greatest(size(ws) - 1, 0)), " +
        "(a, b) -> concat(a, ' ', b)), x -> x IS NOT NULL)")
    // r20: reads [[tokenizedDocs]] — bg feeds the common-set aggregate
    // and the join-back, each formerly a full segmentation subtree
    val bg = tokenizedDocs(spark, dir)
      .select(col("doc_id"), explode(bigrams).as("bg"))
    val common = bg.groupBy("bg").agg(count(lit(1)).as("c"))
      .filter(col("c") >= BigramMinCount)
      .select(col("bg"), lit(1).as("hit"))
    bg.join(broadcast(common), Seq("bg"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), count(col("hit")).as("hits"))
      .select(col("doc_id"), col("n_bigrams"), col("hits"),
        expr(s"CAST(hits * ${1000000}L DIV n_bigrams AS BIGINT)")
          .as("cov_ppm"))
  }

  /** Per-document word-shape statistics via ARRAY higher-order functions
    * (`transform`/`filter`/`aggregate`) — the no-explode form of token
    * analytics. An explode would multiply every document into
    * token-count rows through the pipeline; HOFs fold inside the row in
    * whole-stage codegen, so the pass is pure map-side (zero exchanges —
    * the plan is Project over Scan) and output stays document-sized.
    * This is the scalar sibling of the vector ops in
    * [[graft.functions.VectorExpressions]]: same fused-loop execution,
    * builtin HOFs instead of a custom expression because the semantics
    * fit. All-integer outputs hash-match DuckDB's list lambdas exactly.
    */
  def arrayStats(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), tokens.as("t"))
      .select(col("doc_id"),
        size(col("t")).cast("long").as("n_words"),
        expr("CAST(aggregate(transform(t, w -> length(w)), 0," +
          " (acc, x) -> acc + x) AS BIGINT)").as("sum_len"),
        expr("CAST(aggregate(transform(t, w -> length(w)), 0," +
          " (acc, x) -> IF(x > acc, x, acc)) AS BIGINT)").as("max_len"),
        expr("CAST(size(filter(t, w -> length(w) >= 6)) AS BIGINT)")
          .as("n_long"))

  /** Regex extraction: per-doc count and first match of a token pattern
    * (`^s`-initial words) — the regexp_extract/regexp-count surface a
    * scrubbing or tagging pipeline leans on where fixed delimiters
    * ([[Curation]] split/translate) don't reach. Map-side only; the
    * pattern is anchored ASCII so Java and RE2-family engines agree
    * (cross-engine regex flavor drift is the real production risk —
    * documented, and avoided in the oracle by the same anchored class).
    */
  def regexExtract(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        expr("CAST(size(filter(split(text, ' '), w -> w rlike '^s[a-z]+$'))"
          + " AS BIGINT)").as("n_s_words"),
        expr("try_element_at(filter(split(text, ' ')," +
          " w -> w rlike '^s[a-z]+$'), 1)").as("first_s_word"))

  /** Planted rows for [[textNormalize]]: the fixture corpus is ASCII (NFC
    * is the identity there), so the normalization contract is gated on
    * DECOMPOSED (NFD) sequences planted alongside their precomposed
    * twins — same pattern as [[Dedup.MultilingualDedupRows]]. 920001
    * carries combining acute/diaeresis marks that NFC must fold into
    * precomposed code points; 920002 is already NFC; 920003 is ASCII.
    */
  private[graft] val NormPlantedRows: PlantedRows[(Long, String)] =
    PlantedRows("doc_id", "text")(
      // 920001 is DECOMPOSED on purpose: combining acute (U+0301),
      // diaeresis (U+0308), grave (U+0300) written as escapes so no
      // editor/tool silently precomposes them
      (920001L, "cafe\u0301 nai\u0308ve re\u0301sume\u0301" +
        " zu\u0308rich de\u0301ja\u0300 vu"),
      (920002L, "caf\u00e9 na\u00efve r\u00e9sum\u00e9" +
        " z\u00fcrich d\u00e9j\u00e0 vu"),
      (920003L, "plain ascii stays byte identical"))

  /** Unicode NFC normalization — the text-hygiene pass a multilingual
    * corpus runs before ANY hashing: the same visible string in composed
    * vs decomposed form ("é" vs "e"+U+0301) hashes differently, so
    * un-normalized corpora leak duplicates past exact AND near-dup
    * passes. Spark has no normalize builtin, so the op is the native
    * [[graft.functions.NfcNormalize]] Catalyst expression (codegen'd,
    * ASCII fast path, SQL-callable as `nfc_normalize` via
    * GraftExtensions) — the whole query is one narrow projection inside
    * WholeStageCodegen, no SerializeFromObject/mapPartitions round-trip
    * (PlanSpec gates this). DuckDB's `nfc_normalize` implements the same
    * Unicode standard, so the normalized strings hash-match
    * cross-engine. `changed` counts re-encoded rows (the planted NFD
    * row; null text falls to 0 like the oracle's CASE), `n_cp` is in
    * CODEPOINTS (Spark `length` = UTF-8 character count, matching DuckDB
    * `length` — not UTF-16 units).
    */
  def textNormalize(spark: SparkSession, dir: String): DataFrame = {
    val norm = graft.functions.StringFunctions.nfc_normalize(col("text"))
    NormPlantedRows.onto(Tables.documents(spark, dir))
      .select(
        col("doc_id"),
        norm.as("norm_text"),
        when(norm =!= col("text"), lit(1)).otherwise(lit(0)).as("changed"),
        length(norm).cast("long").as("n_cp"))
  }

  /** Planted rows for [[htmlExtract]]: the fixture corpus is plain text
    * (extraction is the identity there modulo whitespace collapse), so the
    * markup contract is gated on planted HTML — a full page with
    * head/style/script/comment blocks, uppercase tag variants, an
    * entity-only fragment (markup-free but entity-bearing), a multiline
    * fragment, a double-encoded entity (one decode level exactly), and a
    * NULL row for null propagation. Entities are chosen so one-level
    * decode never forms a new `<...>` span (see the idempotence law in
    * PropertySpec: decoded `&lt;` IS legitimate output text, the law holds
    * because no matching `>` follows).
    */
  private[graft] val HtmlPlantedRows: PlantedRows[(Long, String)] =
    PlantedRows("doc_id", "text")(
      (930001L, "<!DOCTYPE html><html><head><title>Widget specs</title>" +
        "<style type=\"text/css\">body { color: red; }</style>" +
        "<script>var x = 1 < 2 && y > 0;</script></head>" +
        "<body><h1>Widget&nbsp;specs</h1>" +
        "<p class=\"intro\">Tom &amp; Jerry &lt;3 data " +
        "&#39;quoted&#39; &quot;double&quot;</p>" +
        "<!-- hidden comment --><ul><li>alpha</li><li>beta</li></ul>" +
        "</body></html>"),
      (930002L, "<SCRIPT SRC=\"app.js\">var hidden = true;</SCRIPT>" +
        "<P>Upper case tags</P><STYLE>h1 { margin: 0 }</STYLE> done"),
      (930003L, "fish &amp; chips cost &lt;5 and &apos;more&apos;"),
      (930004L, "no markup at all here"),
      (930005L, "<div>\n  line one\n  <br/>\n  line two\n</div>"),
      (930006L, "double encoded: &amp;lt;tag&amp;gt; stays text"),
      (930007L, null))

  /** HTML entity decode table, applied AFTER tag stripping (decoding
    * first would turn entity-encoded text into strippable markup — the
    * classic extractor bug). `&amp;` is decoded LAST so double-encoded
    * entities (`&amp;lt;`) decode exactly one level, per the HTML
    * standard. Every search string is regex-metacharacter-free, so
    * Spark's (global) `regexp_replace` and DuckDB's `replace` agree.
    */
  private val HtmlEntities: Seq[(String, String)] = Seq(
    "&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
    "&#39;" -> "'", "&apos;" -> "'", "&nbsp;" -> " ",
    "&amp;" -> "&")

  /** Tag-span pattern (also counts comments/doctype — any `<...>` span
    * without an embedded `>`). `[^>]` matches newlines, so no dotall flag
    * is needed; no backreferences anywhere, so Java regex (Spark) and RE2
    * (DuckDB) agree on every pattern in this pipeline.
    */
  private[graft] val HtmlTagPattern = "<[^>]*>"
  private val HtmlScriptPattern = "(?is)<script\\b[^>]*>.*?</script\\s*>"
  private val HtmlStylePattern = "(?is)<style\\b[^>]*>.*?</style\\s*>"
  private val HtmlCommentPattern = "(?s)<!--.*?-->"

  /** The full markup→text chain over one string column — shared by the
    * query and by PropertySpec's idempotence law. Order matters and is
    * the production order: script/style blocks (content AND tags) →
    * comments → remaining tags → entity decode (one level) → whitespace
    * collapse + trim. Pure codegen'd `regexp_replace`/`trim` — map-side,
    * zero exchanges, null-propagating.
    */
  private[graft] def htmlToText(c: Column): Column = {
    val noBlocks = regexp_replace(
      regexp_replace(c, HtmlScriptPattern, " "), HtmlStylePattern, " ")
    val noTags = regexp_replace(
      regexp_replace(noBlocks, HtmlCommentPattern, " "), HtmlTagPattern, " ")
    val decoded = HtmlEntities.foldLeft(noTags) {
      case (acc, (ent, ch)) => regexp_replace(acc, ent, ch)
    }
    trim(regexp_replace(decoded, "\\s+", " "))
  }

  /** HTML/markup → text extraction — the FIRST operator a web-scale
    * corpus runs (upstream of quality scoring, dedup, everything): strip
    * script/style/comment blocks, strip tags, decode entities one level,
    * collapse whitespace. Runs over `documents` (identity there: the
    * fixture is markup-free) unioned with [[HtmlPlantedRows]]. `n_tags`
    * counts tag-like spans in the RAW text (the markup-density signal a
    * boilerplate classifier consumes); `had_markup` flags rows the
    * extractor actually changed structurally. 100 TB shape: one narrow
    * projection, no UDFs, no shuffles, no driver round-trips.
    */
  def htmlExtract(spark: SparkSession, dir: String): DataFrame = {
    val nTags = size(regexp_extract_all(col("text"),
      lit(HtmlTagPattern), lit(0)))
    HtmlPlantedRows.onto(Tables.documents(spark, dir))
      .select(
        col("doc_id"),
        htmlToText(col("text")).as("clean_text"),
        // size() returns -1 for null arrays (legacy Spark convention);
        // the when() restores SQL null propagation to match the oracle
        when(col("text").isNotNull, nTags.cast("long")).as("n_tags"),
        when(col("text").isNotNull, nTags > 0).as("had_markup"))
      .withColumn("n_chars_out", length(col("clean_text")).cast("long"))
  }

  /** Planted link pages for [[linkGraph]]'s edge cases the synthesized
    * pages don't reach: a page linking the SAME target twice (n_links
    * counts instances, n_src_docs counts the doc once), a link-free
    * page and a NULL page (both must contribute zero edges), and a
    * noisy-host link (`HTTP://WWW.Src1…:80`) that must land in the
    * clean `src1.example.com` group after host normalization.
    */
  private[graft] val LinkPlantedRows: PlantedRows[(Long, String)] =
    PlantedRows("doc_id", "page")(
      (945001L, "<p><a href=\"https://hub.example.net/\">hub</a> twice " +
        "<a href=\"https://hub.example.net/\">hub</a></p>"),
      (945002L, "<p>no links at all</p>"),
      (945003L, null),
      (945004L, "<a href=\"HTTP://WWW.Src1.Example.COM:80/x\">noisy</a>"))

  /** Outbound-link extraction + host-level link graph — the web-graph
    * signal every crawl-curation stack computes next to [[htmlExtract]]
    * (in-degree feeds [[Linkage.pageRank]]-style authority and the
    * spam/hub heuristics a quality classifier consumes). Link-bearing
    * HTML is synthesized deterministically from (doc_id, source) — the
    * [[Curation.urlCanonical]] pattern, so the graph forms ACROSS the
    * whole corpus in both engines: every doc links a rotating
    * cross-source target and a case/port/www-noisy variant, every third
    * doc links a shared hub (a visibly high-in-degree authority);
    * [[LinkPlantedRows]] pin the edge cases. `href` values explode to
    * one edge per instance, hosts normalize (lowercase, strip `www.`,
    * drop the port — the graph is host-grained, so path/query stay out
    * of the key), and the graph aggregates per target host.
    *
    * 100 TB shape: map-side synth + regexp extraction + explode, then
    * ONE exchange on `dst_host` with map-side partial aggregation; the
    * distinct-source count is Spark's standard two-phase
    * partial-distinct. Output is host-grained — orders of magnitude
    * smaller than the edge stream it collapses.
    */
  def linkGraph(spark: SparkSession, dir: String): DataFrame = {
    val synth = Tables.documents(spark, dir).select(col("doc_id"),
      concat(
        lit("<html><body><a href=\"https://src"), (col("doc_id") + 1) % 20,
        lit(".example.com/doc/"), col("doc_id") % 7,
        lit("\">r</a> <a href=\"HTTPS://WWW.Src"), (col("doc_id") * 3) % 20,
        lit(".Example.COM:443/p/"), col("doc_id") % 5,
        lit("\">n</a>"),
        when(col("doc_id") % 3 === 0,
          lit(" <a href=\"http://hub.example.net/\">h</a>"))
          .otherwise(lit("")),
        lit("</body></html>")).as("page"))
    val all = LinkPlantedRows.onto(synth)
    val hrefs = regexp_extract_all(col("page"),
      lit("href=\"([^\"]*)\""), lit(1))
    val host = regexp_replace(
      lower(regexp_extract(col("link"), "://([^/?#:]*)", 1)),
      "^www\\.", "")
    all.select(col("doc_id"), explode(hrefs).as("link"))
      .select(col("doc_id"), host.as("dst_host"))
      .groupBy("dst_host")
      .agg(count(lit(1)).as("n_links"),
        countDistinct(col("doc_id")).as("n_src_docs"))
  }

  /** In-degree distribution of the link graph in power-of-two buckets —
    * the power-law diagnostic beside [[linkGraph]]'s edge table and the
    * pagerank authority scores: a healthy web crawl's host in-degrees
    * are Zipf-like (each doubling bucket holds fewer hosts), and a
    * bucket that BULGES flags link farms / mirror rings before they
    * poison authority signals. The bucket index is floor(log2(degree))
    * made EXACT despite float log2: the candidate from `log2` is
    * corrected by two integer shift comparisons (`2^b ≤ n < 2^(b+1)`),
    * so an ulp error at a power-of-two boundary cannot misbucket on
    * either engine. Rides [[linkGraph]]'s one dst_host exchange plus a
    * bucket-count-sized aggregate.
    */
  def degreeDist(spark: SparkSession, dir: String): DataFrame = {
    val b0 = "CAST(floor(log2(n_links)) AS INT)"
    val bkt = s"$b0 + IF(n_links >= shiftleft(CAST(1 AS BIGINT)," +
      s" $b0 + 1), 1, 0) - IF(n_links < shiftleft(CAST(1 AS BIGINT)," +
      s" $b0), 1, 0)"
    linkGraph(spark, dir)
      .select(col("n_links"), expr(bkt).as("bucket"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_hosts"),
        sum(col("n_links")).as("sum_links"),
        min(col("n_links")).as("min_deg"),
        max(col("n_links")).as("max_deg"))
      .select(col("bucket"),
        expr("shiftleft(CAST(1 AS BIGINT), bucket)").as("deg_lo"),
        col("n_hosts"), col("sum_links"), col("min_deg"),
        col("max_deg"))
  }

  /** Planted pages for [[anchorText]]: case/whitespace anchor variants
    * that must merge after normalization, an empty anchor (image-style
    * link — counted as a link, excluded from text stats), and a
    * contested host whose top anchor needs the deterministic tie-break.
    */
  private[graft] val AnchorPlantedRows: PlantedRows[(Long, String)] =
    PlantedRows("doc_id", "page")(
      (996001L, "<a href=\"https://t1.example.org/\">Data Guide</a>" +
        "<a href=\"https://t1.example.org/x\">  data GUIDE </a>"),
      (996002L, "<a href=\"https://t1.example.org/y\">data guide</a>" +
        "<a href=\"https://t2.example.org/\"></a>"),
      (996003L, "<a href=\"https://t2.example.org/a\">beta ref</a>" +
        "<a href=\"https://t2.example.org/b\">alpha ref</a>"))

  /** (dst_host, atext, n): link counts per target host and normalized
    * anchor text over the corpus plus [[AnchorPlantedRows]] — the input
    * of both [[anchorText]] branches, CACHED and memoized per (session,
    * dir) by [[SessionMemo.cached]].
    */
  private[graft] def anchorCounts(spark: SparkSession,
      dir: String): DataFrame =
    SessionMemo.cached(spark, s"textops.anchorCounts:$dir",
        StorageLevel.MEMORY_AND_DISK) {
      val synth = Tables.documents(spark, dir).select(col("doc_id"),
        concat(
          lit("<a href=\"https://src"), (col("doc_id") + 1) % 20,
          lit(".example.com/\">guide "), col("doc_id") % 4,
          lit("</a><a href=\"https://src"), (col("doc_id") * 3) % 20,
          lit(".example.com/p\">REF "), col("doc_id") % 3,
          lit("</a>")).as("page"))
      val all = AnchorPlantedRows.onto(synth)
      val matches = regexp_extract_all(col("page"),
        lit("<a href=\"[^\"]*\"[^>]*>[^<]*</a>"), lit(0))
      val href = regexp_extract(col("m"), "href=\"([^\"]*)\"", 1)
      val host = regexp_replace(
        lower(regexp_extract(href, "://([^/?#:]*)", 1)), "^www\\.", "")
      val anchor = lower(trim(regexp_extract(col("m"), ">([^<]*)</a>", 1)))
      // r20 CACHED: the counts feed the majority-anchor window AND the
      // per-host rollup — uncached, each branch re-ran the anchor-regex
      // explode over the whole corpus (the expensive map pass; the
      // aggregate itself is label-cardinality-sized, cheap to hold)
      all
        .select(explode(matches).as("m"))
        .select(host.as("dst_host"), anchor.as("atext"))
        .groupBy("dst_host", "atext")
        .agg(count(lit(1)).as("n"))
    }

  /** Anchor-text aggregation — the web-graph RELEVANCE signal next to
    * [[linkGraph]]'s authority signal: what the web CALLS a page is a
    * label its own content can't fake, which is why anchor harvesting
    * is a standard web-pipeline step. Per target host: link count,
    * anchors carrying text, distinct normalized anchor texts, and the
    * majority anchor (count-desc, text-asc tie-break). Anchors
    * normalize by trim+lower so case/whitespace variants merge; empty
    * anchors (image links) count as links but not as text.
    *
    * Scale shape: regexp explode + normalize map-side, ONE dst_host
    * exchange for the (host, text) counts, and the majority pick is a
    * window over the host's DISTINCT anchor texts (label-cardinality
    * rows, not link instances) — never corpus rows.
    */
  def anchorText(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val perText = anchorCounts(spark, dir)
    val wTop = Window.partitionBy(col("dst_host"))
      .orderBy(col("n").desc, col("atext"))
    val top = perText.filter(col("atext") =!= "")
      .withColumn("rk", row_number().over(wTop))
      .filter(col("rk") === 1)
      .select(col("dst_host"), col("atext").as("top_anchor"),
        col("n").as("top_anchor_n"))
    perText.groupBy("dst_host")
      .agg(sum(col("n")).as("n_links"),
        sum(when(col("atext") =!= "", col("n")).otherwise(0L))
          .as("n_with_text"),
        countDistinct(when(col("atext") =!= "", col("atext")))
          .as("n_distinct_texts"))
      .join(top, Seq("dst_host"), "left")
  }

  /** Cross-document boilerplate lines planted into [[boilerplateLines]]:
    * two nav/footer lines shared by ≥3 docs (one with asymmetric
    * whitespace padding — removal keys on the TRIMMED line), unique
    * content lines that must survive, one doc that is pure boilerplate
    * (empties out), and a null row. The fixture corpus contributes its
    * single-line docs: only texts repeated verbatim in ≥3 docs (the
    * planted exact-dup groups) cross the document-frequency floor there.
    */
  private[graft] val BoilerplatePlantedRows: PlantedRows[(Long, String)] =
    PlantedRows("doc_id", "text")(
      (950001L, "subscribe to our newsletter\ncookie policy applies\n" +
        "unique fact one about storage engines"),
      (950002L, "subscribe to our newsletter\n" +
        "unique fact two about shuffle hashing\ncookie policy applies"),
      (950003L, "cookie policy applies\nsubscribe to our newsletter\n" +
        "unique fact three about join orders"),
      (950004L, "subscribe to our newsletter\ncookie policy applies"),
      (950005L, "  subscribe to our newsletter  \n" +
        "unique fact four with padded boilerplate"),
      (950006L, null))

  /** A line is boilerplate when its trimmed form appears in at least
    * this many distinct documents (the C4-style document-frequency
    * floor). */
  private[graft] val BoilerplateMinDocs = 3

  /** Planted rows for [[lineCollapse]]: a 3-line run that must fold to
    * one, a NON-consecutive repeat that must survive (this operator is
    * not a line dedup — order context matters), a trimmed-equal run
    * whose FIRST original spelling must be the survivor, a single-line
    * doc, and an empty doc.
    */
  private[graft] val LineCollapsePlantedRows: PlantedRows[(Long, String)] =
    PlantedRows("doc_id", "text")(
      (994001L, "alpha line\nalpha line\nalpha line\nbeta"),
      (994002L, "xrep\nyother\nxrep"),
      (994003L, "pad\n  pad \npad\ntail"),
      (994004L, "single"),
      (994005L, ""))

  /** Intra-document consecutive-duplicate-line collapse — the
    * repetition cleaner (C4/RefinedWeb-style) that runs BEFORE
    * cross-document boilerplate removal: runs of adjacent lines that
    * are equal after trimming fold to their first occurrence (original
    * spelling kept), non-adjacent repeats survive untouched. Scraped
    * pages carry exactly this artifact (menus, cookie banners, pager
    * widgets emitted in a loop), and collapsing it is a per-document
    * decision that needs no corpus context — so the whole operator is
    * ONE zero-exchange map pass: an index-aware array filter against
    * the previous element, rebuilt in place. The fingerprint hash-pins
    * the reconstructed content like [[graft.engine.Dedup.substringScrub]].
    */
  def lineCollapse(spark: SparkSession, dir: String): DataFrame = {
    val src = LineCollapsePlantedRows.onto(Tables.documents(spark, dir))
    val kept = filter(col("ls"), (l, i) =>
      (i === lit(0)) ||
        (trim(l) =!= trim(element_at(col("ls"), greatest(i, lit(1))))))
    src.select(col("doc_id"), split(col("text"), "\n").as("ls"))
      .withColumn("kp", kept)
      .select(col("doc_id"),
        size(col("ls")).cast("long").as("n_lines"),
        (size(col("ls")) - size(col("kp"))).cast("long").as("n_collapsed"),
        concat_ws("\n", col("kp")).as("clean_text"),
        graft.functions.StringFunctions.utf8_poly_id(
          concat_ws("\n", col("kp")), Dedup.IdMod).as("clean_fp"))
  }

  /** Cross-document boilerplate-line removal — the C4/CCNet pass that
    * drops nav bars, cookie banners, and footers BEFORE dedup ever sees
    * them: lines whose trimmed form appears in ≥ [[BoilerplateMinDocs]]
    * distinct documents are removed from every document, and the
    * survivors are reassembled in original order (kept lines keep their
    * original, untrimmed form). Empty/whitespace lines never count
    * toward document frequency and always survive. A document whose
    * every line is boilerplate comes back as the empty string — the
    * honest signal ("this page was pure chrome"), distinct from null-in
    * → null-out.
    *
    * 100 TB shape: three linear exchanges, none avoidable — line
    * document-frequency (group by trimmed line), the anti join of lines
    * against the over-threshold set, and per-doc reassembly (group by
    * doc_id). The anti join carries NO broadcast hint on purpose: the
    * boilerplate set GROWS with the corpus, so the size-based planner
    * choice is the contract — broadcast while the set fits (it does at
    * fixture scale, and the plan shows BroadcastHashJoin LeftAnti),
    * shuffle once it outgrows the threshold. Map-side partial
    * aggregation carries the df count; nothing collects.
    */
  def boilerplateLines(spark: SparkSession, dir: String): DataFrame =
    boilerplateOver(BoilerplatePlantedRows.onto(Tables.documents(spark, dir)))

  /** [[boilerplateLines]] over an arbitrary (doc_id, text) corpus —
    * the composable core (PropertySpec drives generated corpora through
    * it; the idempotence law holds because cleaning can only LOWER a
    * line's document frequency, never raise it past the floor).
    */
  private[graft] def boilerplateOver(src: DataFrame): DataFrame = {
    val lines = src
      .select(col("doc_id"), posexplode(split(col("text"), "\n")))
      .toDF("doc_id", "pos", "line")
    val boiler = lines
      .filter(length(trim(col("line"))) > 0)
      .groupBy(trim(col("line")).as("lkey"))
      .agg(countDistinct(col("doc_id")).as("df"))
      .filter(col("df") >= lit(BoilerplateMinDocs))
      .select("lkey")
    val kept = lines.join(boiler,
      trim(lines("line")) === boiler("lkey"), "left_anti")
    val rebuilt = kept.groupBy("doc_id")
      .agg(
        concat_ws("\n", transform(
          array_sort(collect_list(struct(col("pos"), col("line")))),
          s => s.getField("line"))).as("kept_text"),
        count(lit(1)).as("n_kept"))
    src
      .withColumn("n_lines", when(col("text").isNotNull,
        size(split(col("text"), "\n")).cast("long")))
      .join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("text").isNotNull, coalesce(col("kept_text"), lit("")))
          .as("clean_text"),
        col("n_lines"),
        when(col("text").isNotNull,
          col("n_lines") - coalesce(col("n_kept"), lit(0L)))
          .as("n_removed"))
  }

  /** Exact unigram-distribution drift between the doc_id-parity corpus
    * snapshots — the dataset-versioning companion to
    * [[Dedup.corpusOverlap]]: overlap asks "same CONTENT?", this asks
    * "same LANGUAGE?" (a crawl whose vocabulary distribution moved is a
    * different training distribution even when few documents are
    * shared). The statistic is total-variation distance, computed
    * EXACTLY in integers per term — |c_a·N_b − c_b·N_a| over a
    * DECIMAL(38,0) product (token-count × corpus-total overflows int64
    * at real corpus sizes) — and divided ONCE as a double with the
    * house round(6). No `ln` anywhere (the cross-engine float rule), so
    * TVD stands in for KL the same way bigram coverage stands in for
    * perplexity.
    *
    * 100 TB shape: one exchange on term (map-side partial sums carry
    * both sides' counts), a 1-row totals broadcast folded back in-plan
    * (the sanctioned collect-scalar shape), and a single-row final agg.
    */
  def vocabDrift(spark: SparkSession, dir: String): DataFrame = {
    val counts = Tables.documents(spark, dir)
      .select((col("doc_id") % 2 === 0).as("is_a"),
        explode(tokens).as("term"))
      .groupBy("term")
      .agg(sum(when(col("is_a"), 1L).otherwise(0L)).as("c_a"),
        sum(when(!col("is_a"), 1L).otherwise(0L)).as("c_b"))
    val totals = counts.agg(sum(col("c_a")).as("n_a"),
      sum(col("c_b")).as("n_b"))
    val big: Column => Column = _.cast("decimal(38,0)")
    counts.crossJoin(broadcast(totals))
      .agg(
        sum(when(col("c_a") > 0, 1L).otherwise(0L)).as("n_terms_a"),
        sum(when(col("c_b") > 0, 1L).otherwise(0L)).as("n_terms_b"),
        sum(when(col("c_a") > 0 && col("c_b") > 0, 1L).otherwise(0L))
          .as("n_terms_shared"),
        count(lit(1)).as("n_terms_union"),
        sum(abs(big(col("c_a")) * col("n_b")
          - big(col("c_b")) * col("n_a"))).as("sum_abs"),
        max(col("n_a")).as("n_a"), max(col("n_b")).as("n_b"))
      .select(col("n_terms_a"), col("n_terms_b"), col("n_terms_shared"),
        col("n_terms_union"), col("n_a"), col("n_b"),
        round(col("sum_abs").cast("double")
          / (lit(2).cast("decimal(38,0)") * big(col("n_a"))
            * big(col("n_b"))).cast("double"), 6).as("tvd"))
  }

  /** Collocation floor and output size for [[collocations]]: a bigram
    * must recur [[CollocMinCount]] times corpus-wide to be a candidate
    * (the same Zipf argument as [[BigramMinCount]]: a fixed instance
    * floor bounds the surviving DISTINCT set long after the corpus
    * outgrows memory), and the table keeps the [[CollocTopK]] strongest.
    */
  val CollocMinCount = 3
  val CollocTopK = 20

  /** (term, c): unigram counts over [[tokenizedDocs]] — the three
    * unigram consumers of [[collocations]] (both join sides and the
    * corpus total), CACHED and memoized per (session, dir) by
    * [[SessionMemo.cached]].
    */
  private[graft] def collocUnigrams(spark: SparkSession,
      dir: String): DataFrame =
    SessionMemo.cached(spark, s"textops.collocUnigrams:$dir",
        StorageLevel.MEMORY_AND_DISK) {
      tokenizedDocs(spark, dir).select(col("ws"))
        .select(explode(col("ws")).as("term"))
        .groupBy("term").agg(count(lit(1)).as("c"))
    }

  /** Collocation mining — the statistical phrase detector that feeds a
    * tokenizer's multi-word merge list and a curation pipeline's
    * boilerplate-phrase audit: bigrams whose observed co-occurrence
    * beats the independence expectation. The association score is the
    * PMI RATIO kept exact under the house no-ln rule: lift·100 =
    * `c_ab·N·100 DIV (c_a·c_b)` over DECIMAL(38,0) products (token
    * counts × corpus totals overflow int64 at real corpus sizes) with
    * the floor DIV mirrored by DuckDB's `//` — PMI = ln(lift) is
    * monotone in it, so ranking by lift IS ranking by PMI. Top-k by
    * (lift, bigram) through orderBy+limit ⇒ TakeOrderedAndProject —
    * per-partition heaps, k rows to the driver, never a global sort.
    *
    * 100 TB shape: one bigram-instance exchange + one term exchange
    * (both linear, map-side combined), the instance floor bounds the
    * join fan-in, two term equi-joins recover c_a/c_b, and the corpus
    * total folds in as the sanctioned 1-row broadcast.
    */
  def collocations(spark: SparkSession, dir: String): DataFrame = {
    // r20: reads [[tokenizedDocs]] — without materialization the plan
    // grew FOUR independent scan + segmentTokens + explode + aggregate
    // subtrees (bigram counts, the two unigram join sides, the corpus
    // total), walking the segmentation regex over the whole corpus four
    // times (measured 3.4 s → 1.1 s warm at sf0.1). The vocab-sized
    // unigram aggregate is additionally cached for its three consumers.
    val docs = tokenizedDocs(spark, dir).select(col("ws"))
    val bigrams = expr(
      "filter(zip_with(ws, slice(ws, 2, greatest(size(ws) - 1, 0)), " +
        "(a, b) -> concat(a, ' ', b)), x -> x IS NOT NULL)")
    val uni = collocUnigrams(spark, dir)
    val tot = uni.agg(sum(col("c")).cast("long").as("n_tokens"))
    val bgc = docs.select(explode(bigrams).as("bigram"))
      .groupBy("bigram").agg(count(lit(1)).as("c_ab"))
      .filter(col("c_ab") >= CollocMinCount)
    bgc
      .select(col("bigram"), col("c_ab"),
        substring_index(col("bigram"), " ", 1).as("ta"),
        substring_index(col("bigram"), " ", -1).as("tb"))
      .join(uni.select(col("term").as("ta"), col("c").as("c_a")), "ta")
      .join(uni.select(col("term").as("tb"), col("c").as("c_b")), "tb")
      .crossJoin(broadcast(tot))
      .select(col("bigram"), col("c_ab"), col("c_a"), col("c_b"),
        col("n_tokens"),
        expr("CAST((CAST(c_ab AS DECIMAL(38,0)) * n_tokens * 100)" +
          " DIV (CAST(c_a AS DECIMAL(38,0)) * c_b) AS BIGINT)")
          .as("lift_x100"))
      .orderBy(col("lift_x100").desc, col("bigram"))
      .limit(CollocTopK)
  }

  /** Checkpoint count for [[vocabGrowth]] — ten ingest-order deciles. */
  val VocabDeciles = 10

  /** Heaps-law vocabulary-growth curve — the corpus diagnostic that
    * sizes tokenizer vocabularies and smoke-tests dedup health: distinct
    * segmented tokens seen vs tokens scanned, checkpointed at ten
    * ingest-order (doc_id-range) deciles. A healthy crawl grows its
    * vocabulary as a power law (Heaps' V ≈ K·nᵝ); a curve that goes FLAT
    * early signals heavy duplication (no new content arriving), and the
    * tail decile's `vocab_new` is the marginal-novelty number a
    * data-acquisition loop watches. Everything is an exact integer:
    * decile boundaries are value-range arithmetic over a 1-row
    * min/span broadcast (`ceil(p·10/span)` as `(p·10 + span − 1) DIV
    * span` — no global row_number, which would be a single-partition
    * sort at corpus scale), a token's first-seen decile is
    * `min(decile)` under one term exchange (decile is monotone in
    * doc_id, so min-of-decile ≡ decile-of-min), and the cumulative
    * curve comes from a `sequence(dec, 10)` explode over the TEN-row
    * per-decile aggregate — no window, no driver state. 100 TB shape:
    * one linear term exchange + two 10-key aggregates; the explode
    * multiplies ten rows, not the corpus.
    */
  def vocabGrowth(spark: SparkSession, dir: String): DataFrame = {
    // r20: reads [[tokenizedDocs]] — pd feeds both the per-decile doc
    // aggregate and the first-seen term aggregate (2 segmentation
    // passes before the memo)
    val docs = tokenizedDocs(spark, dir).select(col("doc_id"), col("ws"))
    val bounds = docs.agg(min(col("doc_id")).as("mn"),
      (max(col("doc_id")) - min(col("doc_id")) + 1L).as("span"))
    val pd = docs.crossJoin(broadcast(bounds))
      .select(col("ws"),
        expr(s"CAST(((doc_id - mn + 1) * $VocabDeciles + span - 1)" +
          " DIV span AS INT)").as("dec"))
    val da = pd.groupBy("dec").agg(count(lit(1)).as("n_docs"),
      sum(size(col("ws")).cast("long")).as("n_tokens"))
    val va = pd.select(col("dec"), explode(col("ws")).as("term"))
      .groupBy("term").agg(min(col("dec")).as("fdec"))
      .groupBy("fdec").agg(count(lit(1)).as("vocab_new"))
    // broadcast pinned (r20): va is ≤ VocabDeciles rows BY CONSTRUCTION
    // (a per-decile rollup), but the planner's estimate for it tracks
    // the input size, and once the tokenizedDocs cache is materialized
    // the grown estimate demoted this 10×10 join to a SortMergeJoin —
    // the hint makes the shape stats-independent.
    da.join(broadcast(va), col("dec") === col("fdec"), "left")
      .select(col("dec"), col("n_docs"), col("n_tokens"),
        coalesce(col("vocab_new"), lit(0L)).as("vn"))
      .select(col("dec"), col("n_docs"), col("n_tokens"), col("vn"),
        explode(sequence(col("dec"), lit(VocabDeciles))).as("decile"))
      .groupBy("decile")
      .agg(sum(col("n_docs")).as("docs_cum"),
        sum(col("n_tokens")).as("tokens_cum"),
        sum(col("vn")).as("vocab_cum"),
        sum(when(col("dec") === col("decile"), col("vn")).otherwise(0L))
          .as("vocab_new"))
  }

  /** Rows planted into [[qualityRules]], each tripping exactly ONE rule
    * (so the spec can prove rule independence), plus an all-pass row and
    * a null row. The 201-token row carries two stopwords and distinct
    * filler so it fails ONLY the length cap. Rows 990008+ are the CJK
    * half of the fixture: pre-segmentation every one of them collapsed
    * to n_tok = 1 and tripped `too_short` regardless of content — the
    * misfire [[segmentTokens]] exists to fix — so the all-pass Han row
    * passing and the short/repetitive Han rows tripping EXACTLY their
    * one rule is the whole-chain proof that the rules now see real CJK
    * token structure.
    */
  private[graft] val QualityPlantedRows: PlantedRows[(Long, String)] =
    PlantedRows("doc_id", "text")(
      (990001L, "the value data"),
      (990002L, "the a " + (1 to 199).map(i => f"w$i%03d").mkString(" ")),
      (990003L, "the a " + Seq.fill(12)("alpha beta").mkString(" ")),
      (990004L, "the a zz qq ww pp"),
      (990005L, "the a alpha beta gamma delta"),
      (990006L, null),
      (990007L, "alpha beta gamma delta epsilon"),
      // CJK rows (content chosen against CjkStopwords 的/了/是/在):
      (990008L, "我的数据是在这里的"), // 9 Han tokens, 4 stop instances → all-pass
      (990009L, "的了是在"), // 4 tokens < floor → too_short ONLY
      (990010L, "的的的的的的的的的的"), // 1 distinct bigram of 9 → repetitive ONLY
      (990011L, "的 是 qq zz 在 的 pp")) // Latin words mean len 2 → bad_word_len ONLY

  /** Quality-rule floors/caps (the Gopher/FineWeb-style heuristic
    * bundle, expressed in exact integers). */
  val RuleMinTokens = 5
  val RuleMaxTokens = 200
  val RuleMinStopInstances = 2
  val RuleMinMeanLenX1 = 3 // mean word length lower bound
  val RuleMaxMeanLenX1 = 10 // upper bound
  val RuleDupBigramDen = 5 // repetitive when dup-bigram share > 1/5

  /** CJK function-word stopwords (的/了/是/在 — the Mandarin analogs of
    * the/a), counted beside [[Stopwords]] so the stopword floor is
    * meaningful on CJK documents instead of auto-failing them.
    */
  val CjkStopwords: Seq[String] = Seq("的", "了", "是", "在")

  /** Topical taxonomy for [[contentFlags]] — placeholder category
    * wordlists a deployment swaps for its real ones (the operator
    * shape, not the lexicon, is the deliverable). Token-level exact
    * match over the shared segmentation, so a category term inside a
    * larger word never fires (the classic "Scunthorpe" false positive
    * of substring blocklists).
    */
  val ContentTaxonomy: Seq[(String, Seq[String])] = Seq(
    "adult" -> Seq("explicit", "nsfw", "xrated"),
    "violence" -> Seq("weapon", "assault", "gore"),
    "gambling" -> Seq("casino", "jackpot", "betting"))

  /** A category fires at ≥ this many term instances — one stray
    * mention is context, repetition is topic (the boundary row below
    * pins the off-by-one).
    */
  val ContentFlagMin = 2

  /** Planted rows: one doc tripping each category, a boundary doc at
    * exactly threshold−1 instances (must NOT flag), a term embedded in
    * a larger token (must not count), and a clean control.
    */
  private[graft] val ContentPlantedRows: PlantedRows[(Long, String)] =
    PlantedRows("doc_id", "text")(
      (995001L, "explicit content explicit banner nsfw page"),
      (995002L, "weapon report and assault case and gore detail"),
      (995003L, "casino night jackpot draw betting pool casino"),
      (995004L, "casino mentioned once in passing"),
      (995005L, "nonexplicit words like weaponry stay uncounted"),
      (995006L, "plain clean control document"))

  /** Content-taxonomy safety flags — the TOPICAL filter beside the
    * STATISTICAL [[qualityRules]]: per document, exact token-level hit
    * counts for each category list, the total, and a per-category +
    * overall flag at [[ContentFlagMin]] instances. One zero-exchange
    * map pass over the shared segmentation (the lists live in the
    * closure as literals — at production lexicon sizes they become a
    * broadcast set lookup, same plan class).
    */
  def contentFlags(spark: SparkSession, dir: String): DataFrame = {
    val src = ContentPlantedRows.onto(Tables.documents(spark, dir))
    // one native scan counts every category together
    // ([[graft.functions.TokenSetStats]]); the composed form
    // re-tokenized the row once per count and once per flag column
    val qs = graft.functions.StringFunctions.token_set_stats(
      col("text"), SegPerCharClass, SegWsChars, ContentTaxonomy.map(_._2))
    val hits = ContentTaxonomy.zipWithIndex.map { case ((cat, _), i) =>
      cat -> col("qs.set_counts").getItem(i)
    }
    val total = hits.map(_._2).reduce(_ + _)
    val flagged = hits.map(_._2 >= ContentFlagMin).reduce(_ || _)
    val cols = Seq(col("doc_id")) ++
      hits.map { case (cat, c) => c.as(s"n_$cat") } ++
      Seq(total.as("n_total")) ++
      hits.map { case (cat, c) => (c >= ContentFlagMin).as(s"flag_$cat") } ++
      Seq(flagged.as("flagged"))
    src.select(col("doc_id"), qs.as("qs")).select(cols: _*)
  }

  /** Heuristic quality-rule bundle — the named-rule verdict table a
    * production corpus filter actually ships (Gopher/FineWeb style):
    * per-document booleans for each rule, the failure count, and the
    * final keep verdict, so downstream dashboards can attribute REMOVAL
    * REASONS instead of a single opaque score. Rules: token-count floor
    * and cap, minimum stopword instances, mean-word-length band
    * (compared as `lo·n_word ≤ Σchars ≤ hi·n_word` — exact integers, no
    * division), and duplicate-bigram share (`(n − distinct)·den > n`).
    * One zero-exchange map pass: tokens, stopword filter, and the
    * bigram zip fold all inside the row.
    *
    * Tokens come from [[segmentTokens]] (identical to whitespace split
    * on Latin text), so the floor/cap and bigram rules see real token
    * structure on unsegmented scripts; the stopword floor counts
    * [[CjkStopwords]] beside the Latin list; and the mean-word-length
    * band is evaluated over WORD RUNS only (single-codepoint CJK tokens
    * excluded — their "length 1" is an artifact of the per-codepoint
    * fallback, exactly why English-tuned Gopher rules misfire on CJK),
    * passing vacuously when a document has no word runs.
    */
  def qualityRules(spark: SparkSession, dir: String): DataFrame = {
    val src = QualityPlantedRows.onto(Tables.documents(spark, dir))
      // one native scan per row ([[graft.functions.QualityStats]], the
      // same struct the feature/scorer chain rides); the composed form
      // re-tokenized the row once per rule column. The null planted row
      // propagates a null struct, so the ifText guards below behave as
      // before.
      .select(col("doc_id"), col("text"), qualityStatsCol.as("qs"))
    val nTok = col("qs.n_tok")
    val nStop = col("qs.n_stop")
    val nWord = col("qs.n_word")
    val sumWChars = col("qs.sum_wchars")
    val nB = col("qs.nb")
    val nDB = col("qs.ndb")
    def ifText(c: Column): Column = when(col("text").isNotNull, c)
    val tooShort = ifText(nTok < RuleMinTokens)
    val tooLong = ifText(nTok > RuleMaxTokens)
    val lowStop = ifText(nStop < RuleMinStopInstances)
    val badLen = ifText(nWord > 0 &&
      (sumWChars < nWord * RuleMinMeanLenX1 ||
        sumWChars > nWord * RuleMaxMeanLenX1))
    val repetitive = ifText(
      nB > 0 && (nB - nDB) * RuleDupBigramDen > nB)
    val flags = Seq(tooShort, tooLong, lowStop, badLen, repetitive)
    val nFailed = ifText(
      flags.map(_.cast("int")).reduceLeft(_ + _).cast("long"))
    src.select(col("doc_id"), ifText(nTok.cast("long")).as("n_tok"),
      tooShort.as("too_short"), tooLong.as("too_long"),
      lowStop.as("low_stopword"), badLen.as("bad_word_len"),
      repetitive.as("repetitive"), nFailed.as("n_failed"),
      ifText(nFailed === 0).as("keep"))
  }

  /** The six integer statistics behind the quality features, computed
    * by the native one-pass [[graft.functions.QualityStats]] expression
    * (previously each feature column re-derived the segmented array
    * through `regexp_extract_all` + HOFs, which Spark's codegen
    * subexpression elimination cannot dedupe across lambda variables —
    * the scoring pass tokenized every row ~30 times; the native struct
    * is CSE-able, so the scan runs ONCE per row).
    */
  private[graft] def qualityStatsCol: Column =
    graft.functions.StringFunctions.quality_stats(col("text"),
      SegPerCharClass, SegWsChars, Stopwords ++ CjkStopwords)

  /** Per-document quality FEATURES + the rule-bundle label, shared by
    * the classifier trainer (`ml_quality_classifier`) and the
    * frozen-weight scorer (`q_quality_score`) so train-time and
    * score-time features cannot drift. Features are the house float
    * surface: one CAST and three single mirrored divisions of exact
    * integers (token count, stopword rate, duplicate-bigram rate, mean
    * word-run length), all over the shared script-aware segmentation.
    * Label: the [[qualityRules]] keep verdict (the FineWeb-Edu shape —
    * hand rules bootstrap a trainable scorer).
    */
  private[graft] def qualityFeatures(docs: DataFrame): DataFrame = {
    val nTok = col("qs.n_tok")
    val nStop = col("qs.n_stop")
    val nWord = col("qs.n_word")
    val sumWChars = col("qs.sum_wchars")
    val nB = col("qs.nb")
    val nDB = col("qs.ndb")
    val tooShort = nTok < RuleMinTokens
    val tooLong = nTok > RuleMaxTokens
    val lowStop = nStop < RuleMinStopInstances
    val badLen = nWord > 0 &&
      (sumWChars < nWord * RuleMinMeanLenX1 ||
        sumWChars > nWord * RuleMaxMeanLenX1)
    val repetitive = nB > 0 && (nB - nDB) * RuleDupBigramDen > nB
    docs
      .filter(col("text").isNotNull)
      .select(col("doc_id"), qualityStatsCol.as("qs"))
      .select(col("doc_id"), nTok.as("n_tok"),
        nTok.cast("double").as("f_ntok"),
        // the n_tok >= 1 filter below drops token-free rows, but the
        // projection still evaluates for them — guard the division
        when(nTok > 0, nStop.cast("double") / nTok.cast("double"))
          .otherwise(0.0).as("f_stop"),
        when(nB > 0, (nB - nDB).cast("double") / nB.cast("double"))
          .otherwise(0.0).as("f_dupb"),
        when(nWord > 0,
          sumWChars.cast("double") / nWord.cast("double"))
          .otherwise(0.0).as("f_wlen"),
        (!(tooShort || tooLong || lowStop || badLen || repetitive))
          .as("rules_keep"))
      .filter(col("n_tok") >= 1)
  }

  /** Frozen quality-classifier weights for [[qualityScore]]: seeded LR
    * coefficients from `ml_quality_classifier` trained at sf0.01
    * (features in [[qualityFeatures]] order: f_ntok, f_stop, f_dupb,
    * f_wlen), pinned as literals so the SCORING pass is a pure
    * oracle-checkable column program — the shipped-model deployment
    * shape. MlSpec asserts retraining reproduces a working model; these
    * exact constants are the frozen artifact, not a per-run output.
    */
  val QualityLrIntercept: Double = -6.261109
  val QualityLrW: Seq[Double] = Seq(0.180792, 71.26968, -4.788396,
    -0.546955)

  /** Corpus scoring under the FROZEN quality classifier — the
    * deployment half of the FineWeb-Edu loop (`ml_quality_classifier`
    * trains and evaluates; THIS query ships the learned linear scorer
    * over the corpus as one zero-exchange map pass). The margin is the
    * raw linear score (no sigmoid — exp's last-ulp behavior differs
    * across libms; the margin is monotone in the probability and
    * crosses 0 exactly where p crosses 1/2), computed in ONE fixed
    * left-to-right expression so both engines run the identical IEEE op
    * sequence, then rounded to 6. `lr_keep` compares the ROUNDED margin
    * to 0 so the verdict is a pure function of the gated column.
    */
  def qualityScore(spark: SparkSession, dir: String): DataFrame =
    qualityFeatures(
      Tables.documents(spark, dir).select("doc_id", "text"))
      .select(col("doc_id"), col("n_tok"),
        round(expr(marginSql), 6).as("margin"), col("rules_keep"))
      .withColumn("lr_keep", col("margin") > 0.0)
      .select(col("doc_id"), col("n_tok"), col("margin"),
        col("lr_keep"), col("rules_keep"),
        (col("lr_keep") === col("rules_keep")).as("agree"))

  /** Calibration-bin width for [[qualityCalibration]], in margin micros
    * (0.5 margin units per bin), and the symmetric clamp that pins the
    * tails into the first/last bin (margins beyond ±2.0 carry no extra
    * calibration information — they are "the classifier is sure").
    */
  val CalBinMicro = 500000L
  val CalClampMicro = 2000000L

  /** Reliability table for the frozen quality classifier — the
    * calibration artifact that answers "when the margin says keep, how
    * often do the rules agree?", binned by margin. The one float surface
    * is [[qualityScore]]'s already-hash-gated margin double; everything
    * after is exact integers: margin micros (`round(margin·10⁶)` of the
    * 6-dp-rounded margin — never near a .5 boundary), clamped to
    * ±[[CalClampMicro]] BEFORE the bin division so the `DIV` operand is
    * non-negative (Spark truncates integer division toward zero while
    * DuckDB's `//` floors — they agree only above zero), and per-bin
    * counts with the keep rate as integer ppm. The training loop reads
    * this table to pick a deployment threshold other than 0; a
    * well-calibrated scorer shows the rule-agreement rate rising
    * monotonically across bins. One 8-key aggregate over the scoring
    * map pass — zero additional exchanges at any corpus size.
    */
  def qualityCalibration(spark: SparkSession, dir: String): DataFrame =
    qualityScore(spark, dir)
      .withColumn("bin", expr(
        s"CAST((least(greatest(CAST(round(margin * 1000000) AS BIGINT)," +
          s" ${-CalClampMicro}L), ${CalClampMicro - 1}L)" +
          s" + ${CalClampMicro}L) DIV ${CalBinMicro}L AS INT)"))
      .groupBy("bin").agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("lr_keep"), 1L).otherwise(0L)).as("n_lr_keep"),
        sum(when(col("rules_keep"), 1L).otherwise(0L))
          .as("n_rules_keep"),
        sum(when(col("agree"), 1L).otherwise(0L)).as("n_agree"))
      .select(col("bin"),
        (col("bin").cast("long") * CalBinMicro - CalClampMicro)
          .as("bin_lo_micro"),
        col("n_docs"), col("n_lr_keep"), col("n_rules_keep"),
        col("n_agree"),
        expr("CAST(n_rules_keep * 1000000 DIV n_docs AS BIGINT)")
          .as("rule_keep_ppm"))

  /** The one shared margin expression (identical text goes through
    * Spark's and DuckDB's SQL parsers, so literal parsing and operation
    * order are the same on both sides).
    */
  private[graft] def marginSql: String = {
    val names = Seq("f_ntok", "f_stop", "f_dupb", "f_wlen")
    QualityLrW.zip(names).foldLeft(QualityLrIntercept.toString) {
      case (acc, (w, n)) => s"$acc + ($w) * $n"
    }
  }

  /** Count-min sketch depth (independent hash rows) and width (counters
    * per row): 4×1024 = 4096 integers TOTAL regardless of corpus size.
    * Point-estimate overcount is bounded by e·N/width with probability
    * 1−e^−depth (Cormode & Muthukrishnan 2005); production widens the
    * table, the state stays depth×width counters either way.
    */
  val CmsDepth = 4
  val CmsWidth = 1024L

  /** Count-min sketch term-frequency estimation — the FREQUENCY
    * counterpart of the KMV cardinality sketch (`q_kmv_distinct`), and
    * like it fully oracle-checkable because the sketch is pure integer
    * arithmetic over the portable poly hash: every engine derives the
    * identical 4×1024 counter table, so the ESTIMATES hash-gate, not
    * just the exact side. Each term occurrence increments one counter
    * per hash row (independent rows via salted hashes); a term's
    * estimate is the MIN of its depth counters — one-sided error,
    * `cms_est ≥ n_exact` always.
    *
    * The query estimates the corpus's exact top-20 terms and carries
    * their exact counts beside the estimates as the acceptance harness
    * (same pattern as the KMV queries: the exact side's full-vocabulary
    * exchange is the cost the sketch exists to avoid).
    *
    * 100 TB shape: the sketch build is ONE aggregation whose map-side
    * partials and final state are ≤ depth×width integers — network
    * O(4096) per mapper, never O(vocabulary); the probe join is 20×4
    * rows against the broadcast counter table. The exact top-20 pays
    * the full term exchange by design (acceptance only).
    */
  def cmsFreq(spark: SparkSession, dir: String): DataFrame = {
    val terms = Tables.documents(spark, dir)
      .select(explode(tokens).as("term"))
    val hashes = (0 until CmsDepth).map { i =>
      graft.functions.StringFunctions.utf8_poly_id(
        concat(lit(s"cms$i:"), col("term")), Dedup.IdMod) % CmsWidth
    }
    val exact = terms.groupBy("term").agg(count(lit(1)).as("n_exact"))
      .orderBy(col("n_exact").desc, col("term")).limit(20)
    val cms = terms
      .select(posexplode(array(hashes: _*)).as(Seq("hrow", "bucket")))
      .groupBy("hrow", "bucket").agg(count(lit(1)).as("cnt"))
    exact
      .select(col("term"), col("n_exact"),
        posexplode(array(hashes: _*)).as(Seq("hrow", "bucket")))
      .join(cms, Seq("hrow", "bucket"))
      .groupBy("term", "n_exact")
      .agg(min(col("cnt")).as("cms_est"))
      .select(col("term"), col("n_exact"), col("cms_est"),
        (col("cms_est") - col("n_exact")).as("overcount"))
  }

  val queries: Map[String, Q] = Map(
    "q_cms_freq" -> cmsFreq _,
    "q_quality_rules" -> qualityRules _,
    "q_vocab_drift" -> vocabDrift _,
    "q_vocab_growth" -> vocabGrowth _,
    "q_collocations" -> collocations _,
    "q_boilerplate_lines" -> boilerplateLines _,
    "q_html_extract" -> htmlExtract _,
    "q_text_normalize" -> textNormalize _,
    "q_array_stats" -> arrayStats _,
    "q_regex_extract" -> regexExtract _,
    "q_text_quality" -> textQuality _,
    "q_lang_id" -> langId _,
    "q_token_count" -> tokenCount _,
    "q_segment_cjk" -> segmentCjk _,
    "q_tokenizer_fertility" -> tokenizerFertility _,
    "q_line_collapse" -> lineCollapse _,
    "q_content_flags" -> contentFlags _,
    "q_anchor_text" -> anchorText _,
    "q_quality_score" -> qualityScore _,
    "q_quality_calibration" -> qualityCalibration _,
    "q_doc_fingerprint" -> docFingerprint _,
    "q_salient_terms" -> salientTerms _,
    "q_unigram_prob" -> unigramProb _,
    "q_perplexity_bucket" -> perplexityBucket _,
    "q_link_graph" -> linkGraph _,
    "q_degree_dist" -> degreeDist _,
    "q_bigram_coverage" -> bigramCoverage _,
    "q_bm25" -> bm25 _,
    "q_bm25_search" -> bm25Search _)

  private val stopList = Stopwords.map(s => s"'$s'").mkString(", ")
  private def markerScore(ms: Seq[String]): String =
    s"len(list_filter(${segmentSql("text")}, t -> t IN (${ms.map(m => s"'$m'").mkString(", ")})))"

  /** Shared link-synthesis CTE chain (pg -> l -> h) behind the
    * q_link_graph and q_degree_dist oracles.
    */
  private def linkGraphCtes: String =
    s"""syn AS (SELECT doc_id,
       |    '<html><body><a href="https://src' || ((doc_id + 1) % 20) ||
       |    '.example.com/doc/' || (doc_id % 7) ||
       |    '">r</a> <a href="HTTPS://WWW.Src' || ((doc_id * 3) % 20) ||
       |    '.Example.COM:443/p/' || (doc_id % 5) || '">n</a>' ||
       |    (CASE WHEN doc_id % 3 = 0 THEN
       |        ' <a href="http://hub.example.net/">h</a>'
       |        ELSE '' END) ||
       |    '</body></html>' AS page
       |  FROM documents),
       |pg AS (${LinkPlantedRows.ontoSql("syn")}),
       |l AS (SELECT doc_id,
       |    unnest(regexp_extract_all(page, 'href="([^"]*)"', 1))
       |      AS link FROM pg),
       |h AS (SELECT doc_id, regexp_replace(
       |    lower(regexp_extract(link, '://([^/?#:]*)', 1)),
       |    '^www\\.', '') AS dst_host FROM l)""".stripMargin

  /** Shared feature/margin CTE chain (s→x→y→f→g) behind the
    * q_quality_score and q_quality_calibration oracles — g carries
    * (doc_id, n_tok, margin, rules_keep).
    */
  private def qualityScoreCtes: String = {
    val sl = (Stopwords ++ CjkStopwords).map(s => s"'$s'").mkString(", ")
    s"""s AS (SELECT doc_id, ${segmentSql("text")} AS t
       |  FROM documents WHERE text IS NOT NULL),
       |x AS (SELECT doc_id, len(t) AS n_tok,
       |    len(list_filter(t, w -> w IN ($sl))) AS n_stop,
       |    list_filter(t,
       |      w -> NOT regexp_matches(w, '^[$SegPerCharClass]$$')) AS wt,
       |    list_transform(range(1, len(t)),
       |      i -> t[i] || ' ' || t[i+1]) AS b2
       |  FROM s),
       |y AS (SELECT doc_id, n_tok, n_stop, len(wt) AS n_word,
       |    coalesce(list_sum(list_transform(wt, w -> length(w))), 0)
       |      AS sum_wchars,
       |    len(b2) AS nb, len(list_distinct(b2)) AS ndb
       |  FROM x WHERE n_tok >= 1),
       |f AS (SELECT doc_id, n_tok,
       |    CAST(n_tok AS DOUBLE) AS f_ntok,
       |    CAST(n_stop AS DOUBLE) / CAST(n_tok AS DOUBLE) AS f_stop,
       |    CASE WHEN nb > 0 THEN CAST(nb - ndb AS DOUBLE)
       |      / CAST(nb AS DOUBLE) ELSE 0.0 END AS f_dupb,
       |    CASE WHEN n_word > 0 THEN CAST(sum_wchars AS DOUBLE)
       |      / CAST(n_word AS DOUBLE) ELSE 0.0 END AS f_wlen,
       |    (NOT (n_tok < $RuleMinTokens OR n_tok > $RuleMaxTokens
       |      OR n_stop < $RuleMinStopInstances
       |      OR (n_word > 0 AND (sum_wchars < n_word * $RuleMinMeanLenX1
       |        OR sum_wchars > n_word * $RuleMaxMeanLenX1))
       |      OR (nb > 0 AND (nb - ndb) * $RuleDupBigramDen > nb)))
       |      AS rules_keep
       |  FROM y),
       |g AS (SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tok,
       |    round($marginSql, 6) AS margin, rules_keep FROM f)""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "q_cms_freq" ->
      s"""WITH tok AS (SELECT unnest(${segmentSql("text")})
         |    AS term FROM documents),
         |ex AS (SELECT term, CAST(count(*) AS BIGINT) AS n_exact
         |  FROM tok GROUP BY term
         |  ORDER BY n_exact DESC, term LIMIT 20),
         |rows_i AS (SELECT unnest([0, 1, 2, 3]) AS i),
         |cms AS (SELECT i,
         |    ${Dedup.idUtf8Sql(
             "'cms' || CAST(i AS VARCHAR) || ':' || term")}
         |      % $CmsWidth AS bucket,
         |    CAST(count(*) AS BIGINT) AS cnt
         |  FROM tok, rows_i GROUP BY 1, 2),
         |pr AS (SELECT e.term, e.n_exact, x.i,
         |    ${Dedup.idUtf8Sql(
             "'cms' || CAST(x.i AS VARCHAR) || ':' || e.term")}
         |      % $CmsWidth AS bucket
         |  FROM ex e, rows_i x)
         |SELECT pr.term, pr.n_exact, min(cms.cnt) AS cms_est,
         |  min(cms.cnt) - pr.n_exact AS overcount
         |FROM pr JOIN cms ON pr.i = cms.i AND pr.bucket = cms.bucket
         |GROUP BY pr.term, pr.n_exact""".stripMargin,
    "q_quality_rules" -> {
      val sl = (Stopwords ++ CjkStopwords).map(s => s"'$s'").mkString(", ")
      val flags = Seq("too_short", "too_long", "low_stopword",
        "bad_word_len", "repetitive")
      val nf = flags.map(f => s"CAST($f AS INTEGER)").mkString(" + ")
      s"""WITH src AS (${QualityPlantedRows.ontoSql("documents")}),
         |s AS (SELECT doc_id, text, ${segmentSql("text")} AS t
         |  FROM src),
         |x AS (SELECT doc_id, text, len(t) AS n_tok,
         |    len(list_filter(t, w -> w IN ($sl))) AS n_stop,
         |    list_filter(t,
         |      w -> NOT regexp_matches(w, '^[$SegPerCharClass]$$')) AS wt,
         |    list_transform(range(1, len(t)),
         |      i -> t[i] || ' ' || t[i+1]) AS b2
         |  FROM s),
         |y AS (SELECT doc_id, n_tok, n_stop, b2, len(wt) AS n_word,
         |    coalesce(list_sum(list_transform(wt, w -> length(w))), 0)
         |      AS sum_wchars
         |  FROM x),
         |f AS (SELECT doc_id, n_tok,
         |    n_tok < $RuleMinTokens AS too_short,
         |    n_tok > $RuleMaxTokens AS too_long,
         |    n_stop < $RuleMinStopInstances AS low_stopword,
         |    (n_word > 0 AND (sum_wchars < n_word * $RuleMinMeanLenX1
         |      OR sum_wchars > n_word * $RuleMaxMeanLenX1))
         |      AS bad_word_len,
         |    (len(b2) > 0 AND (len(b2) - len(list_distinct(b2)))
         |      * $RuleDupBigramDen > len(b2)) AS repetitive
         |  FROM y)
         |SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tok, too_short,
         |  too_long, low_stopword, bad_word_len, repetitive,
         |  CAST($nf AS BIGINT) AS n_failed,
         |  ($nf) = 0 AS keep
         |FROM f""".stripMargin
    },
    "q_vocab_drift" ->
      s"""WITH t AS (SELECT doc_id % 2 = 0 AS is_a,
        |    unnest(${segmentSql("text")}) AS term FROM documents),
        |c AS (SELECT term,
        |    sum(CASE WHEN is_a THEN 1 ELSE 0 END) AS c_a,
        |    sum(CASE WHEN is_a THEN 0 ELSE 1 END) AS c_b
        |  FROM t GROUP BY term),
        |tot AS (SELECT sum(c_a) AS n_a, sum(c_b) AS n_b FROM c)
        |SELECT
        |  CAST(sum(CASE WHEN c_a > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_terms_a,
        |  CAST(sum(CASE WHEN c_b > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_terms_b,
        |  CAST(sum(CASE WHEN c_a > 0 AND c_b > 0 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_terms_shared,
        |  CAST(count(*) AS BIGINT) AS n_terms_union,
        |  CAST(max(n_a) AS BIGINT) AS n_a, CAST(max(n_b) AS BIGINT) AS n_b,
        |  round(CAST(sum(abs(CAST(c_a AS DECIMAL(38,0)) * n_b
        |      - CAST(c_b AS DECIMAL(38,0)) * n_a)) AS DOUBLE)
        |    / CAST(2 * CAST(max(n_a) AS DECIMAL(38,0))
        |      * CAST(max(n_b) AS DECIMAL(38,0)) AS DOUBLE), 6) AS tvd
        |FROM c, tot""".stripMargin,
    "q_collocations" ->
      s"""WITH w AS (SELECT ${segmentSql("text")} AS ws FROM documents),
         |tok AS (SELECT unnest(ws) AS term FROM w),
         |uni AS (SELECT term, CAST(count(*) AS BIGINT) AS c FROM tok
         |  GROUP BY term),
         |tot AS (SELECT CAST(sum(c) AS BIGINT) AS n_tokens FROM uni),
         |ix AS (SELECT ws, unnest(range(1, len(ws))) AS i FROM w),
         |b AS (SELECT ws[i] || ' ' || ws[i + 1] AS bigram FROM ix),
         |bgc AS (SELECT bigram, CAST(count(*) AS BIGINT) AS c_ab FROM b
         |  GROUP BY bigram HAVING count(*) >= $CollocMinCount)
         |SELECT bigram, c_ab, ua.c AS c_a, ub.c AS c_b, n_tokens,
         |  CAST((CAST(c_ab AS HUGEINT) * n_tokens * 100)
         |    // (CAST(ua.c AS HUGEINT) * ub.c) AS BIGINT)
         |    AS lift_x100
         |FROM bgc
         |JOIN uni ua ON ua.term = split_part(bigram, ' ', 1)
         |JOIN uni ub ON ub.term = split_part(bigram, ' ', 2)
         |CROSS JOIN tot
         |ORDER BY lift_x100 DESC, bigram
         |LIMIT $CollocTopK""".stripMargin,
    "q_vocab_growth" ->
      s"""WITH b AS (SELECT min(doc_id) AS mn,
         |    max(doc_id) - min(doc_id) + 1 AS span FROM documents),
         |pd AS (SELECT ${segmentSql("text")} AS ws,
         |    CAST(((doc_id - mn + 1) * $VocabDeciles + span - 1) // span
         |      AS INTEGER) AS dec
         |  FROM documents CROSS JOIN b),
         |da AS (SELECT dec, CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(sum(len(ws)) AS BIGINT) AS n_tokens
         |  FROM pd GROUP BY dec),
         |va AS (SELECT fdec, CAST(count(*) AS BIGINT) AS vocab_new
         |  FROM (SELECT term, min(dec) AS fdec FROM
         |      (SELECT dec, unnest(ws) AS term FROM pd) GROUP BY term)
         |  GROUP BY fdec),
         |base AS (SELECT dec, n_docs, n_tokens,
         |    coalesce(vocab_new, 0) AS vn
         |  FROM da LEFT JOIN va ON dec = fdec),
         |ex AS (SELECT CAST(unnest(range(dec, ${VocabDeciles + 1}))
         |    AS INTEGER) AS decile, dec, n_docs, n_tokens, vn FROM base)
         |SELECT decile, CAST(sum(n_docs) AS BIGINT) AS docs_cum,
         |  CAST(sum(n_tokens) AS BIGINT) AS tokens_cum,
         |  CAST(sum(vn) AS BIGINT) AS vocab_cum,
         |  CAST(sum(CASE WHEN dec = decile THEN vn ELSE 0 END) AS BIGINT)
         |    AS vocab_new
         |FROM ex GROUP BY decile""".stripMargin,
    "q_boilerplate_lines" ->
      s"""WITH src AS (${BoilerplatePlantedRows.ontoSql("documents")}),
         |l AS (SELECT doc_id,
         |    unnest(string_split(text, chr(10))) AS line,
         |    generate_subscripts(string_split(text, chr(10)), 1) AS pos
         |  FROM src WHERE text IS NOT NULL),
         |b AS (SELECT trim(line) AS lkey FROM l
         |  WHERE length(trim(line)) > 0
         |  GROUP BY 1 HAVING count(DISTINCT doc_id) >= $BoilerplateMinDocs),
         |k AS (SELECT doc_id, pos, line FROM l
         |  WHERE trim(line) NOT IN (SELECT lkey FROM b)),
         |r AS (SELECT doc_id,
         |    string_agg(line, chr(10) ORDER BY pos) AS kept_text,
         |    count(*) AS n_kept FROM k GROUP BY doc_id)
         |SELECT s.doc_id,
         |  CASE WHEN s.text IS NULL THEN NULL
         |    ELSE coalesce(r.kept_text, '') END AS clean_text,
         |  CASE WHEN s.text IS NULL THEN NULL
         |    ELSE CAST(len(string_split(s.text, chr(10))) AS BIGINT)
         |    END AS n_lines,
         |  CASE WHEN s.text IS NULL THEN NULL
         |    ELSE CAST(len(string_split(s.text, chr(10)))
         |      - coalesce(r.n_kept, 0) AS BIGINT) END AS n_removed
         |FROM src s LEFT JOIN r ON s.doc_id = r.doc_id""".stripMargin,
    "q_html_extract" -> {
      // identical pattern constants as the Spark side; RE2 needs the 'g'
      // option where Java regexp_replace is global by default, and
      // DuckDB's plain replace() mirrors Spark's literal regexp_replace
      // for the (metacharacter-free) entity table
      val stripped = Seq(HtmlScriptPattern, HtmlStylePattern,
        HtmlCommentPattern, HtmlTagPattern)
        .foldLeft("text")((acc, p) => s"regexp_replace($acc, '$p', ' ', 'g')")
      val decoded = HtmlEntities.foldLeft(stripped) { case (acc, (ent, ch)) =>
        s"replace($acc, '$ent', '${ch.replace("'", "''")}')"
      }
      s"""WITH src AS (${HtmlPlantedRows.ontoSql("documents")}),
         |c AS (SELECT doc_id, text,
         |  trim(regexp_replace($decoded, '\\s+', ' ', 'g')) AS clean_text
         |  FROM src)
         |SELECT doc_id, clean_text,
         |  CAST(length(clean_text) AS BIGINT) AS n_chars_out,
         |  CAST(len(regexp_extract_all(text, '$HtmlTagPattern'))
         |    AS BIGINT) AS n_tags,
         |  len(regexp_extract_all(text, '$HtmlTagPattern')) > 0
         |    AS had_markup
         |FROM c""".stripMargin
    },
    "q_text_normalize" ->
      s"""SELECT doc_id, nfc_normalize(text) AS norm_text,
         |  CAST(CASE WHEN nfc_normalize(text) <> text THEN 1 ELSE 0 END
         |    AS INTEGER) AS changed,
         |  CAST(length(nfc_normalize(text)) AS BIGINT) AS n_cp
         |FROM (${NormPlantedRows.ontoSql("documents")})""".stripMargin,
    "q_array_stats" ->
      s"""SELECT doc_id,
        |  CAST(len(${segmentSql("text")}) AS BIGINT) AS n_words,
        |  CAST(list_aggregate(list_transform(${segmentSql("text")},
        |    x -> len(x)), 'sum') AS BIGINT) AS sum_len,
        |  CAST(list_aggregate(list_transform(${segmentSql("text")},
        |    x -> len(x)), 'max') AS BIGINT) AS max_len,
        |  CAST(len(list_filter(${segmentSql("text")},
        |    x -> len(x) >= 6)) AS BIGINT) AS n_long
        |FROM documents""".stripMargin,
    "q_regex_extract" ->
      s"""SELECT doc_id,
        |  CAST(len(list_filter(${segmentSql("text")},
        |    w -> regexp_matches(w, '^s[a-z]+$$'))) AS BIGINT) AS n_s_words,
        |  list_filter(${segmentSql("text")},
        |    w -> regexp_matches(w, '^s[a-z]+$$'))[1] AS first_s_word
        |FROM documents""".stripMargin,
    "q_text_quality" ->
      s"""SELECT doc_id, CAST(len(${segmentSql("text")}) AS BIGINT) AS n_tokens, round(CAST(n_chars AS DOUBLE) / len(${segmentSql("text")}), 6) AS chars_per_token, round(CAST(len(list_filter(${segmentSql("text")}, t -> t IN ($stopList))) AS DOUBLE) / len(${segmentSql("text")}), 6) AS stopword_ratio, round(CAST(len(list_distinct(${segmentSql("text")})) AS DOUBLE) / len(${segmentSql("text")}), 6) AS distinct_ratio, round(least(CAST(len(${segmentSql("text")}) AS DOUBLE) / 50, 1.0) * (1.0 - CAST(len(list_filter(${segmentSql("text")}, t -> t IN ($stopList))) AS DOUBLE) / len(${segmentSql("text")})), 6) AS quality_score FROM documents""",
    "q_lang_id" -> {
      val caseExpr = LangMarkers.map { case (lang, ms) =>
        s"WHEN ${markerScore(ms)} = s.best AND s.best > 0 THEN '$lang'"
      }.mkString(" ")
      s"""SELECT doc_id, lang, CAST(${markerScore(LangMarkers.head._2)} AS BIGINT) AS score_en, p.predicted_lang, p.predicted_lang = lang AS agree FROM documents, LATERAL (SELECT greatest(${LangMarkers.map(m => markerScore(m._2)).mkString(", ")}) AS best) s, LATERAL (SELECT CASE ${caseExpr} ELSE 'unknown' END AS predicted_lang) p"""
    },
    "q_token_count" ->
      s"""SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens, CAST(len(${segmentSql("text")}) AS BIGINT) AS seg_tokens, CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+')) AS BIGINT) AS re_tokens, CAST(ceil(n_chars / 4.0) AS BIGINT) AS est_bpe_tokens FROM documents""",
    "q_quality_score" -> (s"WITH $qualityScoreCtes\n" +
      """SELECT doc_id, n_tok, margin, margin > 0 AS lr_keep,
        |  rules_keep, (margin > 0) = rules_keep AS agree
        |FROM g""".stripMargin),
    "q_quality_calibration" ->
      s"""WITH $qualityScoreCtes,
         |sc AS (SELECT margin > 0 AS lr_keep, rules_keep,
         |    (margin > 0) = rules_keep AS agree,
         |    CAST((least(greatest(CAST(round(margin * 1000000)
         |        AS BIGINT), ${-CalClampMicro}), ${CalClampMicro - 1})
         |      + $CalClampMicro) // $CalBinMicro AS INTEGER) AS bin
         |  FROM g),
         |b AS (SELECT bin, CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(sum(CASE WHEN lr_keep THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_lr_keep,
         |    CAST(sum(CASE WHEN rules_keep THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_rules_keep,
         |    CAST(sum(CASE WHEN agree THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_agree
         |  FROM sc GROUP BY bin)
         |SELECT bin, CAST(bin * $CalBinMicro - $CalClampMicro AS BIGINT)
         |    AS bin_lo_micro,
         |  n_docs, n_lr_keep, n_rules_keep, n_agree,
         |  CAST(n_rules_keep * 1000000 // n_docs AS BIGINT)
         |    AS rule_keep_ppm
         |FROM b""".stripMargin,
    "q_segment_cjk" ->
      s"""WITH src AS (${SegPlantedRows.ontoSql("documents")})
         |SELECT doc_id,
         |  CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
         |  CAST(len(${segmentSql("text")}) AS BIGINT) AS seg_tokens,
         |  CAST(len(regexp_extract_all(text, '[一-鿿㐀-䶿]'))
         |    AS BIGINT) AS n_han,
         |  CAST(len(regexp_extract_all(text, '[぀-ヿ]'))
         |    AS BIGINT) AS n_kana,
         |  CAST(len(regexp_extract_all(text, '[가-힯]'))
         |    AS BIGINT) AS n_hangul,
         |  CAST(len(regexp_extract_all(text, '[฀-๿]'))
         |    AS BIGINT) AS n_thai,
         |  ${Dedup.idUtf8Sql(
               s"array_to_string(${segmentSql("text")}, ' ')")} AS seg_fp
         |FROM src""".stripMargin,
    "q_tokenizer_fertility" ->
      s"""WITH src AS (SELECT doc_id, text, lang FROM documents
         |  UNION ALL SELECT *, 'xx_planted' AS lang
         |    FROM ${SegPlantedRows.valuesSql}),
         |per AS (SELECT lang,
         |  CAST(strlen(text) AS BIGINT) AS nb,
         |  CAST(length(text) AS BIGINT) AS nc,
         |  CAST(len(regexp_extract_all(text, '$WordRunPattern'))
         |    AS BIGINT) AS nw,
         |  CAST(len(${segmentSql("text")}) AS BIGINT) AS ns FROM src)
         |SELECT lang, count(*) AS n_docs,
         |  CAST(sum(nb) AS BIGINT) AS n_bytes,
         |  CAST(sum(nc) AS BIGINT) AS n_chars,
         |  CAST(sum(nw) AS BIGINT) AS n_words,
         |  CAST(sum(ns) AS BIGINT) AS n_seg_tokens,
         |  CASE WHEN sum(nw) > 0
         |    THEN round(CAST(sum(ns) AS DOUBLE) / sum(nw), 6) END
         |    AS fertility,
         |  CASE WHEN sum(ns) > 0
         |    THEN round(CAST(sum(nb) AS DOUBLE) / sum(ns), 6) END
         |    AS bytes_per_token,
         |  CASE WHEN sum(ns) > 0
         |    THEN round(CAST(sum(nc) AS DOUBLE) / sum(ns), 6) END
         |    AS chars_per_token
         |FROM per GROUP BY lang""".stripMargin,
    "q_content_flags" -> {
      val catCols = ContentTaxonomy.map { case (cat, words) =>
        val lst = words.map(w => s"'$w'").mkString(", ")
        s"""CAST(len(list_filter(${segmentSql("text")},
           |    x -> x IN ($lst))) AS BIGINT) AS n_$cat""".stripMargin
      }.mkString(", ")
      val cats = ContentTaxonomy.map(_._1)
      val totalExpr = cats.map(c => s"n_$c").mkString(" + ")
      val flagCols = cats.map(c =>
        s"n_$c >= $ContentFlagMin AS flag_$c").mkString(", ")
      val anyFlag = cats.map(c => s"n_$c >= $ContentFlagMin")
        .mkString(" OR ")
      s"""WITH src AS (${ContentPlantedRows.ontoSql("documents")}),
         |h AS (SELECT doc_id,
         |  $catCols
         |FROM src)
         |SELECT doc_id, ${cats.map(c => s"n_$c").mkString(", ")},
         |  $totalExpr AS n_total,
         |  $flagCols,
         |  $anyFlag AS flagged
         |FROM h""".stripMargin
    },
    "q_line_collapse" ->
      s"""WITH src AS (${LineCollapsePlantedRows.ontoSql("documents")}),
         |ln AS (SELECT doc_id, string_split(text, chr(10)) AS ls
         |  FROM src),
         |pos AS (SELECT doc_id, i, ls[i] AS line FROM ln,
         |  LATERAL (SELECT unnest(range(1, len(ls) + 1)) AS i)),
         |kp AS (SELECT doc_id, i, line FROM (SELECT doc_id, i, line,
         |    lag(trim(line)) OVER (PARTITION BY doc_id ORDER BY i)
         |      AS prev FROM pos)
         |  WHERE prev IS NULL OR trim(line) <> prev),
         |reb AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
         |    string_agg(line, chr(10) ORDER BY i) AS clean_text
         |  FROM kp GROUP BY doc_id)
         |SELECT ln.doc_id, CAST(len(ls) AS BIGINT) AS n_lines,
         |  CAST(len(ls) - COALESCE(n_kept, 0) AS BIGINT) AS n_collapsed,
         |  COALESCE(clean_text, '') AS clean_text,
         |  ${Dedup.idUtf8Sql("COALESCE(clean_text, '')")} AS clean_fp
         |FROM ln LEFT JOIN reb ON ln.doc_id = reb.doc_id""".stripMargin,
    "q_doc_fingerprint" ->
      s"""SELECT doc_id, ${portableFpSql("text", 31, 1000000007L)} AS fingerprint, CAST(len(text) AS BIGINT) AS len_chars FROM documents""",
    "q_salient_terms" ->
      s"""WITH tok AS (SELECT doc_id, unnest(${segmentSql("text")}) AS term
         |  FROM documents),
         |tfg AS (SELECT doc_id, term, count(*) AS tf
         |  FROM tok GROUP BY doc_id, term),
         |dfg AS (SELECT term, count(DISTINCT doc_id) AS df
         |  FROM tfg GROUP BY term),
         |n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
         |s AS (SELECT doc_id, term, tf, df,
         |    round(CAST(tf AS DOUBLE) * n_docs / df, 6) AS salience
         |  FROM tfg JOIN dfg USING (term) CROSS JOIN n),
         |r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
         |    ORDER BY salience DESC, term) AS rank FROM s)
         |SELECT doc_id, term, tf, df, salience,
         |  CAST(rank AS INTEGER) AS rank
         |FROM r WHERE rank <= $SalientK""".stripMargin,
    "q_unigram_prob" ->
      s"""WITH tok AS (SELECT doc_id, unnest(${segmentSql("text")})
        |    AS term FROM documents),
        |tfg AS (SELECT doc_id, term, count(*) AS c FROM tok
        |  GROUP BY doc_id, term),
        |v AS (SELECT term, sum(c) AS cnt FROM tfg GROUP BY term),
        |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_total FROM v),
        |d AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
        |    CAST(sum(c * cnt) AS BIGINT) AS sum_cnt
        |  FROM tfg JOIN v USING (term) GROUP BY doc_id)
        |SELECT doc_id, n_tokens, sum_cnt,
        |  round(CAST(sum_cnt AS DOUBLE) / n_tokens / n_total, 9)
        |    AS mean_prob
        |FROM d CROSS JOIN tot""".stripMargin,
    "q_perplexity_bucket" ->
      s"""WITH tok AS (SELECT doc_id, unnest(${segmentSql("text")})
        |    AS term FROM documents),
        |tfg AS (SELECT doc_id, term, count(*) AS c FROM tok
        |  GROUP BY doc_id, term),
        |v AS (SELECT term, sum(c) AS cnt FROM tfg GROUP BY term),
        |d AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
        |    CAST(sum(c * cnt) AS BIGINT) AS sum_cnt
        |  FROM tfg JOIN v USING (term) GROUP BY doc_id),
        |s AS (SELECT doc_id,
        |    CAST(sum_cnt * 1000000 // n_tokens AS BIGINT) AS score_ppm
        |  FROM d),
        |r AS (SELECT doc_id, lang, score_ppm,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY score_ppm DESC, doc_id) AS rn,
        |    count(*) OVER (PARTITION BY lang) AS n_lang
        |  FROM s JOIN documents USING (doc_id))
        |SELECT doc_id, lang, score_ppm,
        |  CASE WHEN rn * 3 <= n_lang THEN 'head'
        |    WHEN rn * 3 <= n_lang * 2 THEN 'middle'
        |    ELSE 'tail' END AS bucket
        |FROM r""".stripMargin,
    "q_anchor_text" ->
      s"""WITH syn AS (SELECT doc_id,
         |    '<a href="https://src' || ((doc_id + 1) % 20)
         |    || '.example.com/">guide ' || (doc_id % 4)
         |    || '</a><a href="https://src' || ((doc_id * 3) % 20)
         |    || '.example.com/p">REF ' || (doc_id % 3) || '</a>' AS page
         |  FROM documents),
         |pg AS (${AnchorPlantedRows.ontoSql("syn")}),
         |m AS (SELECT unnest(regexp_extract_all(page,
         |    '<a href="[^"]*"[^>]*>[^<]*</a>')) AS m FROM pg),
         |lab AS (SELECT regexp_replace(lower(regexp_extract(
         |      regexp_extract(m, 'href="([^"]*)"', 1),
         |      '://([^/?#:]*)', 1)), '^www\\.', '') AS dst_host,
         |    lower(trim(regexp_extract(m, '>([^<]*)</a>', 1))) AS atext
         |  FROM m),
         |pt AS (SELECT dst_host, atext, count(*) AS n FROM lab
         |  GROUP BY dst_host, atext),
         |top AS (SELECT dst_host, atext AS top_anchor,
         |    CAST(n AS BIGINT) AS top_anchor_n FROM (SELECT *,
         |    row_number() OVER (PARTITION BY dst_host
         |      ORDER BY n DESC, atext) AS rk FROM pt WHERE atext <> '')
         |  WHERE rk = 1)
         |SELECT pt.dst_host, CAST(sum(n) AS BIGINT) AS n_links,
         |  CAST(sum(CASE WHEN atext <> '' THEN n ELSE 0 END) AS BIGINT)
         |    AS n_with_text,
         |  CAST(count(DISTINCT CASE WHEN atext <> '' THEN atext END)
         |    AS BIGINT) AS n_distinct_texts,
         |  any_value(top_anchor) AS top_anchor,
         |  any_value(top_anchor_n) AS top_anchor_n
         |FROM pt LEFT JOIN top USING (dst_host)
         |GROUP BY pt.dst_host""".stripMargin,
    "q_link_graph" ->
      s"""WITH $linkGraphCtes
         |SELECT dst_host, CAST(count(*) AS BIGINT) AS n_links,
         |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_src_docs
         |FROM h GROUP BY dst_host""".stripMargin,
    "q_degree_dist" -> {
      val b0 = "CAST(floor(log2(n_links)) AS INTEGER)"
      s"""WITH $linkGraphCtes,
         |d AS (SELECT dst_host, CAST(count(*) AS BIGINT) AS n_links
         |  FROM h GROUP BY dst_host),
         |bk AS (SELECT n_links, $b0
         |    + (CASE WHEN n_links >= (CAST(1 AS BIGINT) << ($b0 + 1))
         |        THEN 1 ELSE 0 END)
         |    - (CASE WHEN n_links < (CAST(1 AS BIGINT) << $b0)
         |        THEN 1 ELSE 0 END) AS bucket
         |  FROM d)
         |SELECT bucket, CAST(CAST(1 AS BIGINT) << bucket AS BIGINT)
         |    AS deg_lo,
         |  CAST(count(*) AS BIGINT) AS n_hosts,
         |  CAST(sum(n_links) AS BIGINT) AS sum_links,
         |  CAST(min(n_links) AS BIGINT) AS min_deg,
         |  CAST(max(n_links) AS BIGINT) AS max_deg
         |FROM bk GROUP BY bucket""".stripMargin
    },
    "q_bigram_coverage" ->
      s"""WITH w AS (SELECT doc_id, ${segmentSql("text")} AS ws
         |  FROM documents),
         |ix AS (SELECT doc_id, ws, unnest(range(1, len(ws))) AS i FROM w),
         |b AS (SELECT doc_id, ws[i] || ' ' || ws[i + 1] AS bg FROM ix),
         |cnt AS (SELECT bg, count(*) AS c FROM b GROUP BY bg),
         |common AS (SELECT bg FROM cnt WHERE c >= $BigramMinCount)
         |SELECT doc_id, count(*) AS n_bigrams, count(cm.bg) AS hits,
         |  CAST(count(cm.bg) * 1000000 // count(*) AS BIGINT) AS cov_ppm
         |FROM b LEFT JOIN common cm ON b.bg = cm.bg
         |GROUP BY doc_id""".stripMargin,
    "q_bm25" -> {
      val termList = Bm25QueryTerms.map(t => s"'$t'").mkString(", ")
      s"""WITH tok AS (SELECT doc_id, unnest(${segmentSql("text")})
         |    AS term FROM documents),
         |tfg AS (SELECT doc_id, term, count(*) AS tf FROM tok
         |  WHERE term IN ($termList) GROUP BY doc_id, term),
         |dfg AS (SELECT term, count(DISTINCT doc_id) AS df
         |  FROM tfg GROUP BY term),
         |dlt AS (SELECT doc_id, CAST(len(${segmentSql("text")})
         |    AS BIGINT) AS dl FROM documents),
         |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(sum(len(${segmentSql("text")})) AS BIGINT)
         |      AS total_tokens FROM documents),
         |s AS (SELECT term, doc_id, tf, dl, round(
         |    (n_docs - df + 0.5) / (df + 0.5) * (tf * ${Bm25K1 + 1}) /
         |      (tf + $Bm25K1 * (${1 - Bm25B} +
         |        $Bm25B * dl * n_docs / total_tokens)), 6) AS bm25
         |  FROM tfg JOIN dfg USING (term) JOIN dlt USING (doc_id)
         |  CROSS JOIN tot),
         |r AS (SELECT *, row_number() OVER (PARTITION BY term
         |    ORDER BY bm25 DESC, doc_id) AS rank FROM s)
         |SELECT term, doc_id, tf, dl, bm25, CAST(rank AS INTEGER) AS rank
         |FROM r WHERE rank <= $Bm25TopK""".stripMargin
    },
    "q_bm25_search" -> {
      val termList = Bm25QueryTerms.map(t => s"'$t'").mkString(", ")
      s"""WITH tok AS (SELECT doc_id, unnest(${segmentSql("text")})
         |    AS term FROM documents),
         |tfg AS (SELECT doc_id, term, count(*) AS tf FROM tok
         |  WHERE term IN ($termList) GROUP BY doc_id, term),
         |dfg AS (SELECT term, count(DISTINCT doc_id) AS df
         |  FROM tfg GROUP BY term),
         |dlt AS (SELECT doc_id, CAST(len(${segmentSql("text")})
         |    AS BIGINT) AS dl FROM documents),
         |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(sum(len(${segmentSql("text")})) AS BIGINT)
         |      AS total_tokens FROM documents),
         |s AS (SELECT doc_id, CAST(round(round(
         |    (n_docs - df + 0.5) / (df + 0.5) * (tf * ${Bm25K1 + 1}) /
         |      (tf + $Bm25K1 * (${1 - Bm25B} +
         |        $Bm25B * dl * n_docs / total_tokens)), 6) * 1000000)
         |    AS BIGINT) AS s_micro
         |  FROM tfg JOIN dfg USING (term) JOIN dlt USING (doc_id)
         |  CROSS JOIN tot)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hit_terms,
         |  CAST(sum(s_micro) AS BIGINT) AS score_micro
         |FROM s GROUP BY doc_id
         |ORDER BY score_micro DESC, doc_id
         |LIMIT $Bm25TopK""".stripMargin
    })
}
