package graft.engine

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-data curation operators (north-star extensions): the passes a
  * corpus pipeline runs between raw text and the trainer — PII scrubbing,
  * fixed-size chunking with overlap, stratified sampling, repetition
  * scoring, and deterministic global shuffling. All narrow per-row column
  * programs (no UDFs) except the final shuffle's explicit sort.
  */
object Curation {
  type Q = (SparkSession, String) => DataFrame

  val ChunkSize = 32
  val ChunkStride = 24 // = size - overlap(8)

  // shared tokenizer: the script-aware segmentation (== whitespace split
  // on Latin text; per-codepoint on unsegmented scripts) so budgets,
  // chunk grids, samples, and mixes count real tokens multilingually
  private def toks = TextOps.segmentTokens(col("text"))

  /** PII scrubbing: regex redaction of emails/URLs with per-doc match
    * counts. PII is synthesized in-query (fixture text is clean) so the
    * scrubber has something real to hit; the patterns stay in the
    * RE2/Java-regex common subset for oracle parity.
    */
  def textScrub(spark: SparkSession, dir: String): DataFrame = {
    val emailRe = "[a-z0-9]+@[a-z0-9.]+"
    val urlRe = "https?://[^ ]+"
    Tables.documents(spark, dir)
      .withColumn("raw",
        concat(col("text"), lit(" contact user"), col("doc_id"),
          lit("@example.com via http://site"), col("doc_id"), lit(".com")))
      .select(
        col("doc_id"),
        size(regexp_extract_all(col("raw"), lit(emailRe), lit(0)))
          .cast("long").as("n_emails"),
        size(regexp_extract_all(col("raw"), lit(urlRe), lit(0)))
          .cast("long").as("n_urls"),
        regexp_replace(regexp_replace(col("raw"), urlRe, "<URL>"),
          emailRe, "<EMAIL>").as("scrubbed"))
  }

  /** Typed-PII patterns shared by [[piiAudit]] and its oracle — the
    * RE2/Java common subset (no lookaround, no backreferences; `\b` and
    * bounded group repetition are in both). Order matters for redaction:
    * email → card → phone → IPv4; every placeholder is digit-free and
    * @-free, so later patterns can never match inside an earlier
    * replacement.
    */
  private[graft] val PiiPatterns: Seq[(String, String, String)] = Seq(
    ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}",
      "<EMAIL>"),
    ("card", "\\b\\d{4}[ -]\\d{4}[ -]\\d{4}[ -]\\d{4}\\b", "<CARD>"),
    ("phone", "\\+\\d{1,3}([ -]?\\d{2,4}){2,4}", "<PHONE>"),
    ("ipv4", "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b", "<IP>"))

  /** PII rows planted into [[piiAudit]] (fixture text is clean): each
    * type alone, a clean row, a mixed row exercising every pattern plus
    * separator variants (the +44-20… phone shape needs the 2–4-digit
    * group repetition), and a null row.
    */
  private[graft] val PiiPlantedRows: PlantedRows[(Long, String)] =
    PlantedRows("doc_id", "text")(
      (970001L, "contact alice at alice.smith+spam@example.com or " +
        "+1 415 555 0173 today"),
      (970002L, "server at 10.0.0.1 and 192.168.1.254 responded"),
      (970003L, "card 4111 1111 1111 1111 on file, backup " +
        "5500-0000-0000-0004"),
      (970004L, "no sensitive content in this row at all"),
      (970005L, "mixed bob@corp.io from 172.16.254.3 using " +
        "+44-20-7946-0958 and card 4012 8888 8888 1881"),
      (970006L, null))

  /** Typed-PII audit + redaction — the release gate a training corpus
    * runs before anything leaves the pipeline: per-type match counts
    * (each counted INDEPENDENTLY on the raw text) and a redacted text
    * with typed placeholders, over the corpus unioned with
    * [[PiiPlantedRows]]. A single map-side projection of codegen'd
    * regexp ops — no shuffle, no UDF; at 100 TB this is a pure scan
    * pass whose cost is the regex automata, which is why the patterns
    * stay in the RE2 subset (linear-time scan, no backtracking blowup
    * on adversarial corpus bytes).
    */
  def piiAudit(spark: SparkSession, dir: String): DataFrame = {
    val src = PiiPlantedRows.onto(Tables.documents(spark, dir))
    val countExprs = PiiPatterns.map { case (_, re, _) =>
      size(regexp_extract_all(col("text"), lit(re), lit(0))).cast("long")
    }
    val redacted = PiiPatterns.foldLeft(col("text")) {
      case (acc, (_, re, ph)) => regexp_replace(acc, re, ph)
    }
    src.select(
      col("doc_id") +:
        PiiPatterns.zip(countExprs).map { case ((name, _, _), e) =>
          when(col("text").isNotNull, e).as(s"n_$name")
        } :+
        redacted.as("redacted") :+
        when(col("text").isNotNull,
          countExprs.reduceLeft(_ + _) > 0).as("has_pii"): _*)
  }

  /** The release DATA CARD — the Datasheets-for-Datasets record
    * (Gebru et al. 2021) a model card's data section quotes, assembled
    * in ONE pass over the corpus plus the memoized dup-pair table:
    * corpus mass (docs/bytes/segmented tokens), language spread and the
    * majority language, the quality-rule keep rate, typed-PII and
    * content-flag incidence, verified near-dup pairs/docs (corpus-only:
    * the dedup pipeline's planted multilingual rows are semi-joined
    * away), and the order-independent content fingerprint that pins
    * WHICH corpus the card describes (the
    * [[graft.engine.SourceQueries.datasetManifest]] sum-mod-prime).
    * Every rate is integer ppm; the single float surface is none.
    *
    * 100 TB shape: one corpus scan computes all per-doc verdicts
    * (the native [[graft.functions.QualityStats]]/TokenSetStats
    * structs + the RE2-safe PII patterns — zero exchanges) into one
    * global aggregate; the language dimension is a lang-count rollup
    * with a 1-row top pick; dup stats ride the memoized dup-sized pair
    * table. Five 1-row broadcasts assemble the card (the sanctioned
    * collect-scalar shape).
    */
  def datasetCard(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val hv = graft.functions.StringFunctions.utf8_poly_id(
      concat(col("doc_id").cast("string"), lit(":"), col("text")),
      Dedup.IdMod)
    val nPii = PiiPatterns.map { case (_, re, _) =>
      size(regexp_extract_all(col("text"), lit(re), lit(0)))
    }.reduce(_ + _)
    val fs = graft.functions.StringFunctions.token_set_stats(
      col("text"), TextOps.SegPerCharClass, TextOps.SegWsChars,
      TextOps.ContentTaxonomy.map(_._2))
    val per = docs.select(col("lang"),
        octet_length(col("text")).cast("long").as("nb"),
        TextOps.qualityStatsCol.as("q"), fs.as("f"),
        (nPii > 0).as("pii"), hv.as("hv"))
      .select(col("lang"), col("nb"), col("q.n_tok").as("ntok"),
        (!(col("q.n_tok") < TextOps.RuleMinTokens ||
          col("q.n_tok") > TextOps.RuleMaxTokens ||
          col("q.n_stop") < TextOps.RuleMinStopInstances ||
          (col("q.n_word") > 0 &&
            (col("q.sum_wchars") <
              col("q.n_word") * TextOps.RuleMinMeanLenX1 ||
              col("q.sum_wchars") >
                col("q.n_word") * TextOps.RuleMaxMeanLenX1)) ||
          (col("q.nb") > 0 &&
            (col("q.nb") - col("q.ndb")) * TextOps.RuleDupBigramDen >
              col("q.nb")))).as("keep"),
        TextOps.ContentTaxonomy.indices
          .map(i => col("f.set_counts").getItem(i) >=
            TextOps.ContentFlagMin)
          .reduce(_ || _).as("flagged"),
        col("pii"), col("hv"))
    val base = per.agg(
      count(lit(1)).as("n_docs"),
      sum(col("nb")).as("n_bytes"),
      sum(col("ntok")).as("n_tokens"),
      countDistinct(col("lang")).as("n_langs"),
      sum(when(col("keep"), 1L).otherwise(0L)).as("n_quality_keep"),
      sum(when(col("pii"), 1L).otherwise(0L)).as("n_pii_docs"),
      sum(when(col("flagged"), 1L).otherwise(0L)).as("n_flagged"),
      (sum(col("hv").cast("decimal(38,0)")) % Dedup.IdMod).cast("long")
        .as("fp_corpus"))
    val top = docs.groupBy("lang").agg(count(lit(1)).as("top_lang_docs"))
      .orderBy(col("top_lang_docs").desc, col("lang")).limit(1)
      .select(col("lang").as("top_lang"), col("top_lang_docs"))
    val ids = docs.select("doc_id")
    val pairs = Dedup.dedupMinhash(spark, dir)
      .join(ids.select(col("doc_id").as("doc_a")), Seq("doc_a"),
        "left_semi")
      .join(ids.select(col("doc_id").as("doc_b")), Seq("doc_b"),
        "left_semi")
    // r20: ONE pass over the pair list for both dup statistics — the
    // pair count and the distinct-doc count formerly sat in separate
    // plan branches, each re-running the whole minhash LSH pipeline
    // (candidate join + verify) that produces `pairs`. Every pair
    // explodes to exactly two non-null rows, so count(1) DIV 2 is the
    // exact pair count.
    val dup = pairs
      .select(explode(array(col("doc_a"), col("doc_b"))).as("d"))
      .agg(expr("CAST(count(1) DIV 2 AS BIGINT)").as("n_dup_pairs"),
        countDistinct(col("d")).as("n_dup_docs"))
    base.crossJoin(broadcast(top))
      .crossJoin(broadcast(dup))
      .select(col("n_docs"), col("n_bytes"), col("n_tokens"),
        col("n_langs"), col("top_lang"), col("top_lang_docs"),
        col("n_quality_keep"),
        expr("CAST(n_quality_keep * 1000000 DIV n_docs AS BIGINT)")
          .as("keep_ppm"),
        col("n_pii_docs"),
        expr("CAST(n_pii_docs * 1000000 DIV n_docs AS BIGINT)")
          .as("pii_ppm"),
        col("n_flagged"),
        expr("CAST(n_flagged * 1000000 DIV n_docs AS BIGINT)")
          .as("flagged_ppm"),
        col("n_dup_pairs"), col("n_dup_docs"),
        expr("CAST(n_dup_docs * 1000000 DIV n_docs AS BIGINT)")
          .as("dup_ppm"),
        col("fp_corpus"))
  }

  /** Deletion / right-to-be-forgotten audit — the compliance record a
    * release writes when PII-bearing documents must LEAVE the corpus:
    * one accounting row with the before/deleted/retained counts, the
    * order-independent content fingerprint of the RETAINED corpus (the
    * [[graft.engine.SourceQueries.datasetManifest]] sum-mod-prime, so
    * the audit pins exactly which corpus the release now is), and the
    * REDACTION-CLOSURE check: the number of documents whose redacted
    * text STILL matches any PII pattern. That last column must be zero
    * — a placeholder that leaves partial digits behind would re-match,
    * i.e. redaction must be a fixed point of detection, and this query
    * gates it corpus-wide rather than trusting the pattern authors.
    * Null-text rows are retained (nothing to detect) and excluded from
    * the fingerprint sum (no content to fingerprint), mirrored on both
    * engines. One map pass + one global aggregate; no exchange beyond
    * the 1-row agg.
    */
  def deletionAudit(spark: SparkSession, dir: String): DataFrame = {
    val src = PiiPlantedRows.onto(Tables.documents(spark, dir))
    val nPii = PiiPatterns.map { case (_, re, _) =>
      size(regexp_extract_all(col("text"), lit(re), lit(0)))
    }.reduce(_ + _)
    val hasPii = when(col("text").isNotNull, nPii > 0).otherwise(false)
    val redacted = PiiPatterns.foldLeft(col("text")) {
      case (acc, (_, re, ph)) => regexp_replace(acc, re, ph)
    }
    val residual = PiiPatterns.map { case (_, re, _) =>
      size(regexp_extract_all(redacted, lit(re), lit(0)))
    }.reduce(_ + _)
    val hv = graft.functions.StringFunctions.utf8_poly_id(
      concat(col("doc_id").cast("string"), lit(":"), col("text")),
      Dedup.IdMod)
    src.select(
        hasPii.as("p"),
        when(!hasPii, hv).as("keep_hv"),
        when(col("text").isNotNull && residual > 0, 1L).otherwise(0L)
          .as("res"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("p"), 1L).otherwise(0L)).as("n_pii_docs"),
        sum(when(col("p"), 0L).otherwise(1L)).as("n_retained"),
        (sum(col("keep_hv").cast("decimal(38,0)")) % Dedup.IdMod)
          .cast("long").as("fp_retained"),
        sum(col("res")).as("n_redacted_residual"))
  }

  /** Fixed-size chunking with overlap (size 32, stride 24): the
    * document-to-training-sample explosion. Chunk starts stride across the
    * token array; each row is one chunk with its token count and text.
    */
  def docChunk(spark: SparkSession, dir: String): DataFrame = {
    val starts = sequence(lit(0), greatest(size(toks) - 1, lit(0)),
      lit(ChunkStride))
    Tables.documents(spark, dir)
      .select(col("doc_id"), toks.as("t"),
        explode(starts).as("start"))
      .select(col("doc_id"),
        (col("start") / ChunkStride).cast("int").as("chunk_idx"),
        slice(col("t"), col("start") + 1, lit(ChunkSize)).as("chunk"))
      .filter(size(col("chunk")) > 0)
      .select(col("doc_id"), col("chunk_idx"),
        size(col("chunk")).cast("long").as("n_chunk_tokens"),
        concat_ws(" ", col("chunk")).as("chunk_text"))
  }

  /** Stratified sampling audit: deterministic systematic sample (keep
    * doc_id mod 10 < 3) with per-stratum totals — the reproducible
    * alternative to seeded `sampleBy` (whose RNG is engine-specific).
    */
  def stratifiedSample(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_total"),
        count(when(col("doc_id") % 10 < 3, true)).as("n_sampled"),
        round(count(when(col("doc_id") % 10 < 3, true)).cast("double") /
          count(lit(1)), 6).as("sample_ratio"))

  /** Deterministic weighted sampling — length-proportional acceptance:
    * a doc is kept iff its portable unit hash u(doc_id) < w, with
    * weight w = min(1, n_tokens / [[SampleTargetTokens]]). This is the
    * weight-proportional downsampling pass a data-mixing curriculum
    * runs (acceptance probability is exactly w per row), and it is
    * engine-portable and rerun-stable: u is Knuth multiplicative
    * hashing on doc_id mod a prime (the [[dataShuffle]] key) scaled to
    * [0,1) — no rand(), no seed state, no coordination, so ablations
    * resample the IDENTICAL subset.
    *
    * Scale shape: ONE map-side scan — no shuffle and no global sort
    * (the orderBy-rand()-limit alternative funnels the corpus through a
    * total order and is unreproducible across retries). Exact-size
    * draws, where needed, compose [[dataShuffle]]'s deterministic
    * order with a limit instead.
    */
  val SampleTargetTokens = 100.0

  def weightedSample(spark: SparkSession, dir: String): DataFrame = {
    val u = pmod(col("doc_id") * 2654435761L, lit(1000000007L))
      .cast("double") / 1000000007.0
    val w = least(lit(1.0), size(toks).cast("double") / SampleTargetTokens)
    Tables.documents(spark, dir)
      .filter(u < w)
      .select(col("doc_id"),
        size(toks).cast("long").as("n_tokens"),
        round(w, 6).as("weight"),
        round(u, 6).as("u"))
  }

  /** Repetition scoring (Gopher-style quality filter): fraction of
    * duplicated word-2-grams per document — high values flag boilerplate
    * and spam. Integer-ratio arithmetic, bit-exact everywhere.
    */
  def repetition(spark: SparkSession, dir: String): DataFrame = {
    val n2 = greatest(size(toks) - lit(1), lit(0))
    val grams2 = zip_with(
      slice(toks, lit(1), n2), slice(toks, lit(2), n2),
      (a, b) => concat_ws(" ", a, b))
    Tables.documents(spark, dir)
      .select(col("doc_id"), grams2.as("g2"))
      .filter(size(col("g2")) > 0)
      .select(
        col("doc_id"),
        size(col("g2")).cast("long").as("n_2grams"),
        size(array_distinct(col("g2"))).cast("long").as("n_distinct_2grams"),
        round(lit(1.0) - size(array_distinct(col("g2"))).cast("double") /
          size(col("g2")), 6).as("dup_2gram_ratio"))
  }

  /** Deterministic global shuffle: order by a portable multiplicative-hash
    * key — reproducible cross-engine example-order randomization for
    * training exports (a seeded `orderBy(rand())` would be engine-bound).
    * The global ordinal comes from a RANGE-PARTITIONED sort +
    * `zipWithIndex` (per-partition offsets), NOT a row_number window with
    * no partitionBy — the window form collapses the table onto one task
    * and cannot scale.
    */
  def dataShuffle(spark: SparkSession, dir: String): DataFrame = {
    val key = (col("doc_id") * 2654435761L) % 1000000007L
    val sorted = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), key.as("shuffle_key"))
      .orderBy(col("shuffle_key"), col("doc_id"))
    val schema = org.apache.spark.sql.types.StructType(
      sorted.schema.fields :+ org.apache.spark.sql.types.StructField(
        "position", org.apache.spark.sql.types.LongType, nullable = false))
    val withPos = sorted.rdd.zipWithIndex().map { case (r, i) =>
      org.apache.spark.sql.Row.fromSeq(r.toSeq :+ (i + 1))
    }
    sorted.sparkSession.createDataFrame(withPos, schema)
  }

  /** The end-to-end curation funnel — the LLM-pipeline analog of
    * `q_full_pipeline`: exact-dedup keeper election, quality floor,
    * token-range gate and a language-marker gate composed into one pass,
    * reported per source (the shape of a per-domain curation dashboard).
    *
    * One shuffle for the keeper window and one for the per-source
    * rollup. The keeper window is keyed by TWO independent portable
    * polynomial fingerprints of the content, NOT the raw text: every
    * derived column (token count, quality, language score, fingerprints)
    * is a map-side projection and text is DROPPED before the exchange,
    * so the shuffle moves (doc_id, source, 2 longs, 3 ints) per row
    * instead of full document bytes — the difference between shuffling
    * ~40 B/row and ~row-size at 100 TB. Equal texts always share both
    * fingerprints (keeper election over exact dupes is exact); two
    * DISTINCT texts share a group only by colliding in BOTH hashes:
    * expected colliding pairs ≈ n²/(2·M1·M2) ≈ n²/2^61, i.e. ~50 pairs
    * at 10^10 docs — a handful of distinct-text pairs may share a keeper
    * group at that scale, perturbing dashboard counts negligibly (a
    * collision demotes one doc to non-keeper; no data is lost). Same
    * quantified-collision house rule as the dedup shingle ids
    * (Dedup.scala portable-id note). Every gate is a codegen'd column
    * program; nothing leaves the two-exchange plan.
    *
    * `sum_quality_kept` sums the micro-scaled INTEGER quality
    * (round(q·1e6) as long) and divides once at the render — double
    * sums are order-sensitive and Spark/DuckDB reduce in different
    * orders, so the exact-then-render rule used for money columns
    * applies here too.
    */
  val QualityFloor = 0.5
  val MinTokens = 5
  val MaxTokens = 1000
  val FpBase1 = 31L
  val FpMod1 = 1000000007L
  val FpBase2 = 131L
  val FpMod2 = 998244353L

  def corpusCurate(spark: SparkSession, dir: String): DataFrame = {
    val nTok = size(toks)
    val nStop = size(filter(toks,
      t => t.isInCollection(TextOps.Stopwords)))
    val scoreEn = size(filter(toks,
      t => t.isInCollection(TextOps.LangMarkers.head._2)))
    val q = round(
      least(nTok.cast("double") / 50, lit(1.0)) *
        (lit(1.0) - nStop.cast("double") / nTok), 6)
    val w = Window.partitionBy(col("fp1"), col("fp2"))
    val flagged = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        nTok.as("n_tok"),
        round(q * 1000000L).cast("long").as("q_micro"),
        scoreEn.as("score_en"),
        TextOps.portableFp(col("text"), FpBase1, FpMod1).as("fp1"),
        TextOps.portableFp(col("text"), FpBase2, FpMod2).as("fp2"))
      .withColumn("keep_id", min(col("doc_id")).over(w))
    val kept = col("doc_id") === col("keep_id") &&
      col("q_micro") >= (QualityFloor * 1000000L).toLong &&
      col("n_tok").between(MinTokens, MaxTokens) &&
      col("score_en") >= 1
    flagged.groupBy("source").agg(
      count(lit(1)).as("n_docs"),
      count(when(kept, 1)).as("n_kept"),
      round(count(when(kept, 1)).cast("double") / count(lit(1)), 6)
        .as("kept_ratio"),
      round(coalesce(sum(when(kept, col("q_micro"))), lit(0L))
        .cast("double") / 1000000L, 6).as("sum_quality_kept"),
      coalesce(sum(when(kept, col("n_tok").cast("long"))), lit(0L))
        .as("tokens_kept"))
  }

  /** Domain-mixture reweighting — the data-recipe step that turns "use
    * half the corpus, balanced across sources" into per-source sampling
    * rates: target tokens per source = budget-share × total ÷ nSources
    * (uniform target mixture), rate = min(1, target / sourceTokens),
    * oversubscribed sources downsample, small sources keep everything.
    *
    * The global totals ride a window over the POST-AGGREGATE frame —
    * nSources rows by construction — so the single-partition exchange
    * moves a bounded dimension table, never corpus rows (the corpus pass
    * is one map-side token count + one groupBy source).
    */
  val MixBudgetShare = 0.5

  def domainMix(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy()
    Tables.documents(spark, dir)
      .groupBy("source")
      .agg(sum(size(toks)).cast("long").as("n_tokens"))
      .withColumn("target_tokens",
        round(sum(col("n_tokens")).over(w).cast("double") *
          MixBudgetShare / count(lit(1)).over(w), 2))
      .withColumn("sample_rate",
        round(least(lit(1.0), col("target_tokens") / col("n_tokens")), 6))
      .withColumn("expected_tokens",
        round(col("sample_rate") * col("n_tokens"), 2))
      .select("source", "n_tokens", "target_tokens", "sample_rate",
        "expected_tokens")
  }

  /** Mixing temperature: sampling weight ∝ tokens^(1/2) (temperature
    * T = 2; α = 1 reproduces raw proportions, α → 0 approaches
    * uniform) — small domains get UPSAMPLED relative to their raw
    * share, the standard fix for a head-heavy corpus drowning its
    * tails. α = 1/2 is chosen from the standard [0.3, 0.7] smoothing
    * range because it is the ONE exponent with an exact integer form:
    * the weight is the integer square root
    * `w = isqrt(MixWeightScale² · n_tokens)` ≈ MixWeightScale·√n, so
    * the whole weight surface stays inside the repo's exact-integer
    * oracle discipline (no `pow`, whose last-ulp behavior differs
    * between JVM and DuckDB libm, and no order-sensitive double sum).
    * Bound: `MixWeightScale² · n_tokens` must stay below 2^52 (the
    * same double-exactness guard as `robustOutliers`) — at scale 10
    * that is 4.5e13 tokens (≈180 TB of text) in a SINGLE source.
    */
  val MixWeightScale = 10L

  /** Temperature-weighted dataset mixing — the curriculum companion to
    * [[domainMix]]'s budget allocator: per-source raw token share
    * (integer ppm), the temperature-smoothed sampling weight
    * `√n / Σ√n` (exact integer isqrt weights, see [[MixWeightScale]]),
    * and the resulting over/under-sampling factor vs raw. Exactly two
    * tiny aggregates broadcast back over the source dimension (one
    * corpus exchange total). The two emitted doubles are each a SINGLE
    * mirrored IEEE division of exact integers (the `vocabDrift` tvd
    * pattern), so the hash gate is deterministic: the floor-sqrt
    * candidate is ±1-corrected against its square, making `w` the true
    * integer square root on both engines regardless of libm.
    */
  def mixTemperature(spark: SparkSession, dir: String): DataFrame = {
    val big: Column => Column = _.cast("decimal(38,0)")
    val perSrc = Tables.documents(spark, dir)
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(size(toks)).cast("long").as("n_tokens"))
      .withColumn("m", col("n_tokens") * lit(MixWeightScale * MixWeightScale))
      .withColumn("k0", floor(sqrt(col("m").cast("double"))).cast("long"))
      .withColumn("w",
        col("k0")
          - when(col("k0") * col("k0") > col("m"), 1L).otherwise(0L)
          + when((col("k0") + 1) * (col("k0") + 1) <= col("m"), 1L)
            .otherwise(0L))
    val totals = perSrc.select(
      sum(col("n_tokens")).as("tot_tokens"),
      sum(col("w")).as("tot_w"))
    perSrc.crossJoin(broadcast(totals))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        expr("CAST(n_tokens * 1000000 DIV tot_tokens AS BIGINT)")
          .as("share_ppm"),
        round(col("w").cast("double") / col("tot_w").cast("double"), 6)
          .as("temp_weight"),
        round((big(col("w")) * col("tot_tokens")).cast("double")
          / (big(col("tot_w")) * col("n_tokens")).cast("double"), 6)
          .as("boost"))
  }

  /** The training budget is [[EpochBudgetEpochs]] corpus passes' worth
    * of tokens; no source may repeat more than [[EpochCap]] times (the
    * data-constrained-scaling regime where another epoch of the same
    * data is worth less than fresh tokens — Muennighoff et al. 2023's
    * "Scaling Data-Constrained Language Models" finding, public).
    * Budget ≤ cap·corpus by construction (EpochBudgetEpochs ≤
    * EpochCap), which is what makes the one-round redistribution total:
    * Σshortfall ≤ Σheadroom always holds, so `extra ≤ headroom`
    * pointwise and no source can overshoot the cap.
    */
  val EpochBudgetEpochs = 4L
  val EpochCap = 4L

  /** Repetition-aware epoch planning — the allocator that turns "train
    * for B tokens on these sources" into per-source epoch counts. The
    * budget B = [[EpochBudgetEpochs]]·Σtokens is split across sources
    * in proportion to their summed quality score (the allocator's
    * preference signal — a high-quality source earns more repeats);
    * each source serves at most [[EpochCap]] epochs of its own unique
    * tokens, and the capped sources' undeliverable remainder is
    * redistributed to the others in proportion to remaining headroom.
    * Every column is an exact BIGINT: the two big products route
    * through DECIMAL(38,0) (the `vocabDrift` pattern — Long×Long can
    * exceed 2⁶³ at corpus scale) and every division is an integer
    * floor DIV mirrored by DuckDB's `//`, so the whole plan hash-gates
    * with zero float ops. Floor division under-distributes by at most
    * one token per source — reported, not hidden: Σfinal ≤ B exactly.
    *
    * Plan shape: one `groupBy(source)` corpus exchange into
    * source-dimension rows, then TWO 1-row totals broadcasts (budget
    * terms, then shortfall/headroom) — the sanctioned
    * collect-scalar-kept-in-plan shape of [[mixTemperature]]; nothing
    * after the first aggregate touches corpus rows.
    */
  def epochPlan(spark: SparkSession, dir: String): DataFrame = {
    val big: Column => Column = _.cast("decimal(38,0)")
    val perSrc = Tables.documents(spark, dir)
      .groupBy("source")
      .agg(sum(size(toks)).cast("long").as("unique_tokens"),
        sum(qualityMicro).as("quality_sum"))
    val totals = perSrc.select(
      sum(col("unique_tokens")).as("tot_tokens"),
      sum(col("quality_sum")).as("tot_quality"))
    val alloc = perSrc.crossJoin(broadcast(totals))
      .withColumn("alloc_tokens",
        when(col("tot_quality") > 0,
          expr(s"""CAST((CAST($EpochBudgetEpochs AS DECIMAL(38,0))
                   * tot_tokens * quality_sum)
                  DIV tot_quality AS BIGINT)""")).otherwise(0L))
      .withColumn("epochs_needed",
        when(col("unique_tokens") > 0,
          expr("(alloc_tokens + unique_tokens - 1) DIV unique_tokens"))
          .otherwise(0L))
      .withColumn("epochs", least(lit(EpochCap), col("epochs_needed")))
      .withColumn("served_tokens",
        least(col("alloc_tokens"), lit(EpochCap) * col("unique_tokens")))
      .withColumn("shortfall", col("alloc_tokens") - col("served_tokens"))
      .withColumn("headroom",
        lit(EpochCap) * col("unique_tokens") - col("served_tokens"))
    val redis = alloc.select(
      sum(col("shortfall")).as("tot_short"),
      sum(col("headroom")).as("tot_head"))
    alloc.crossJoin(broadcast(redis))
      .withColumn("extra_tokens",
        when(col("tot_head") > 0, expr(
          """CAST((CAST(tot_short AS DECIMAL(38,0)) * headroom)
            DIV tot_head AS BIGINT)""".stripMargin)).otherwise(0L))
      .withColumn("final_tokens", col("served_tokens") + col("extra_tokens"))
      .withColumn("final_epochs_milli",
        when(col("unique_tokens") > 0,
          expr("(final_tokens * 1000) DIV unique_tokens")).otherwise(0L))
      .select("source", "unique_tokens", "quality_sum", "alloc_tokens",
        "epochs_needed", "epochs", "served_tokens", "shortfall",
        "headroom", "extra_tokens", "final_tokens", "final_epochs_milli")
  }

  /** Sequence packing (concat-and-chunk): lay the shuffled corpus out as
    * one token stream and cut it into fixed-length training sequences of
    * [[PackLen]] tokens — the step that turns curated documents into the
    * dense batches a trainer consumes. Each row reports where its document
    * lands: starting pack, offset inside it, and how many pack boundaries
    * the document straddles (a straddle means the example is split across
    * two training sequences — the packing-efficiency diagnostic).
    *
    * The global running token offset is a DISTRIBUTED PREFIX SUM, not a
    * partition-less window: sort by the portable shuffle key (range
    * partition), take per-partition token subtotals (one numPartitions-row
    * collect — a bounded dimension, same class as `zipWithIndex`'s offset
    * job), then emit offsets per partition with the subtotal carried in.
    * A `sum() OVER (ORDER BY ...)` with no PARTITION BY would funnel the
    * corpus through one task and cannot scale; this shape shuffles once
    * for the range sort and never narrows. All arithmetic is Long — no
    * doubles anywhere, so the oracle compare is bit-exact.
    */
  val PackLen = 256L

  def packSequences(spark: SparkSession, dir: String): DataFrame = {
    // null-guards are identity on clean data (fixture ids/text are
    // non-null) but keep the row accessors below total on corrupt rows
    val id = coalesce(col("doc_id"), lit(-1L))
    val key = (id * 2654435761L) % 1000000007L
    val sorted = Tables.documents(spark, dir)
      .select(id.as("doc_id"),
        greatest(coalesce(size(toks), lit(0)), lit(0)).cast("long")
          .as("n_tokens"),
        key.as("shuffle_key"))
      .orderBy(col("shuffle_key"), col("doc_id"))
    // localCheckpoint: the offsets collect below and the final
    // createDataFrame are TWO jobs over this RDD — the checkpoint (eager
    // at the first job) makes the second read the same materialized
    // layout instead of re-running the range-sort shuffle, so cum_start
    // is anchored to one physical ordering by construction, not by
    // recompute determinism
    val rdd = sorted.rdd.localCheckpoint()
    // per-partition token subtotals: numPartitions longs to the driver
    val partSums = rdd.mapPartitions(
      it => Iterator.single(it.map(_.getLong(1)).sum),
      preservesPartitioning = true).collect()
    val offsets = partSums.scanLeft(0L)(_ + _)
    val packed = rdd.mapPartitionsWithIndex { (pid, it) =>
      var cum = offsets(pid)
      it.map { r =>
        val n = r.getLong(1)
        val start = cum
        cum += n
        val packId = start / PackLen
        val endPack = if (n > 0) (start + n - 1) / PackLen else packId
        org.apache.spark.sql.Row(r.getLong(0), n, r.getLong(2), start,
          packId, start % PackLen, endPack - packId)
      }
    }
    import org.apache.spark.sql.types._
    val schema = StructType(Seq("doc_id", "n_tokens", "shuffle_key",
      "cum_start", "pack_id", "pack_offset", "n_boundary_crossings")
      .map(StructField(_, LongType, nullable = false)))
    spark.createDataFrame(packed, schema)
  }

  /** Pack manifest — the trainer-handoff view of [[packSequences]]:
    * one row per (pack, document segment) with the segment's offset and
    * length INSIDE the pack, plus per-pack segment count and fill. This
    * is the table a training loader actually consumes (attention masks
    * must not cross document boundaries inside a packed sequence, so
    * the loader needs each pack's internal segmentation, not each
    * document's pack placement — the same data transposed to the
    * pack's point of view).
    *
    * Scale shape: rides [[packSequences]]' distributed prefix sum; each
    * document explodes map-side into the packs it spans (Σ segments =
    * n_packs + n_docs − … ≤ docs + total_tokens/PackLen — linear), and
    * the per-pack rollup is ONE pack_id window exchange whose
    * partitions hold at most PackLen+1 segments each (a pack cannot
    * contain more segments than tokens) — bounded regardless of corpus
    * size.
    */
  def packManifest(spark: SparkSession, dir: String): DataFrame = {
    val L = PackLen
    val segStart = greatest(lit(0L), col("cum_start") - col("pack_id") * L)
    val segEnd =
      least(lit(L), col("cum_start") + col("n_tokens") - col("pack_id") * L)
    val segs = packSequences(spark, dir)
      .filter(col("n_tokens") > 0)
      .select(col("doc_id"), col("n_tokens"), col("cum_start"),
        explode(sequence(col("pack_id"),
          col("pack_id") + col("n_boundary_crossings"))).as("pack_id"))
      .select(col("pack_id"), col("doc_id"),
        segStart.as("seg_start"), (segEnd - segStart).as("seg_len"))
    val w = Window.partitionBy(col("pack_id"))
    segs
      .withColumn("n_segs", count(lit(1)).over(w))
      .withColumn("pack_fill", sum(col("seg_len")).over(w))
  }

  /** Per-domain quality-threshold curation: keep the top [[QualityKeepFrac]]
    * share of documents per source by the corpus-curate quality score —
    * the "keep the best 30% of every domain" recipe step, which a single
    * global threshold gets wrong (it empties low-scoring domains instead
    * of thinning them). Rank and count ride ONE window partitioned by
    * source (both frames share the partitioning, so Spark plans a single
    * exchange); per-source sorts scale with the largest domain, the usual
    * window story. Keep decisions are pure integer comparisons on the
    * micro-scaled score — bit-exact against the oracle.
    */
  val QualityKeepFrac = 0.3

  def qualityThreshold(spark: SparkSession, dir: String): DataFrame = {
    val nTok = size(toks)
    val nStop = size(filter(toks, t => t.isInCollection(TextOps.Stopwords)))
    val q = round(
      least(nTok.cast("double") / 50, lit(1.0)) *
        (lit(1.0) - nStop.cast("double") / nTok), 6)
    val wRank = Window.partitionBy(col("source"))
      .orderBy(col("q_micro").desc, col("doc_id"))
    val wAll = Window.partitionBy(col("source"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        round(q * 1000000L).cast("long").as("q_micro"))
      .withColumn("q_rank", row_number().over(wRank).cast("long"))
      .withColumn("n_source", count(lit(1)).over(wAll))
      .withColumn("kept",
        col("q_rank") <= ceil(col("n_source") * QualityKeepFrac).cast("long"))
  }

  /** Token budget for [[tokenBudget]] — the corpus-selection cutoff. At
    * fixture scale (~27k tokens at sf0.01) 10k selects the top ~third;
    * a production run sets this to the training-run token count.
    */
  val TokenBudget = 10000L

  /** Micro-scaled (×1e6, Long) quality score used by the budget
    * selections; null or token-free text ⇒ 0 so adversarial rows sort
    * last, unkept (the segmentation, unlike whitespace split, yields an
    * EMPTY array for empty text — the n_tok = 0 branch must not divide).
    */
  private[engine] def qualityMicro: org.apache.spark.sql.Column = {
    val nTok = size(toks)
    val nStop = size(filter(toks, t => t.isInCollection(TextOps.Stopwords)))
    val q = when(nTok > 0, round(
      least(nTok.cast("double") / 50, lit(1.0)) *
        (lit(1.0) - nStop.cast("double") / nTok), 6)).otherwise(0.0)
    coalesce(round(q * 1000000L).cast("long"), lit(0L))
  }

  /** Token-budget corpus selection: "give me the best N tokens" — order
    * the corpus by quality (micro-scaled integer score, ties broken by
    * doc_id for a total order) and keep every document fully contained in
    * the first [[TokenBudget]] tokens of that stream. The complement of
    * [[qualityThreshold]]'s per-domain fraction: this is the global
    * budget-capped recipe step ("train on the best 10B tokens"), the
    * final selection a data mixture executes after per-domain curation.
    *
    * The running token offset is the same DISTRIBUTED PREFIX SUM as
    * [[packSequences]]: range-sort by (quality desc, doc_id), collect one
    * numPartitions-row subtotal vector, emit per-partition offsets with
    * the carried base. A `sum() OVER (ORDER BY quality)` with no
    * PARTITION BY would funnel the corpus through one task; this shape
    * shuffles once for the range sort and stays fully parallel. Keep
    * decisions are Long comparisons — bit-exact against the oracle.
    */
  def tokenBudget(spark: SparkSession, dir: String): DataFrame = {
    val sorted = Tables.documents(spark, dir)
      .select(coalesce(col("doc_id"), lit(-1L)).as("doc_id"),
        greatest(size(toks), lit(0)).cast("long").as("n_tokens"),
        qualityMicro.as("q_micro"))
      .orderBy(col("q_micro").desc, col("doc_id"))
    budgetKeep(sorted, TokenBudget)
  }

  /** The budget-cutoff prefix-sum shared by [[tokenBudget]] and
    * [[Bpe.bpeBudget]]: `sorted` must be (doc_id, n_tokens, q_micro)
    * Longs already range-sorted by the selection order; keeps every row
    * fully contained in the first `budget` tokens of that stream.
    */
  private[engine] def budgetKeep(sorted: DataFrame, budget: Long)
      : DataFrame = {
    val spark = sorted.sparkSession
    // localCheckpoint anchors BOTH passes (subtotal collect + final scan)
    // to one materialized layout — same rationale as packSequences
    val rdd = sorted.rdd.localCheckpoint()
    val partSums = rdd.mapPartitions(
      it => Iterator.single(it.map(_.getLong(1)).sum),
      preservesPartitioning = true).collect()
    val offsets = partSums.scanLeft(0L)(_ + _)
    val kept = rdd.mapPartitionsWithIndex { (pid, it) =>
      var cum = offsets(pid)
      it.flatMap { r =>
        val n = r.getLong(1)
        val start = cum
        cum += n
        // kept ⟺ the doc lies entirely inside the first `budget`
        // tokens; cum_before is monotone so partitions past the budget
        // emit nothing (map-side filter, no second shuffle)
        if (start + n <= budget)
          Iterator.single(org.apache.spark.sql.Row(
            r.getLong(0), n, r.getLong(2), start))
        else Iterator.empty
      }
    }
    import org.apache.spark.sql.types._
    val schema = StructType(Seq("doc_id", "n_tokens", "q_micro",
      "cum_before").map(StructField(_, LongType, nullable = false)))
    spark.createDataFrame(kept, schema)
  }

  /** Deterministic hash split: train/validation/test assignment from the
    * portable content fingerprint mod 100 — reproducible across engines
    * and runs, and STABLE UNDER RE-INGESTION (a doc keeps its split when
    * the corpus around it changes, which a row-number split does not
    * guarantee). Reported per (split, source) with each split's share of
    * its source; the share window rides the post-aggregate frame
    * (nSources × 3 rows), never corpus rows.
    */
  val SplitTrainPct = 80
  val SplitValPct = 90 // upper bound; test = the rest

  def hashSplit(spark: SparkSession, dir: String): DataFrame = {
    val bucket = TextOps.portableFp(col("text"), FpBase1, FpMod1) % 100
    val split = when(bucket < SplitTrainPct, "train")
      .when(bucket < SplitValPct, "validation").otherwise("test")
    val w = Window.partitionBy(col("source"))
    Tables.documents(spark, dir)
      .select(split.as("split"), col("source"), size(toks).as("n_tok"))
      .groupBy("split", "source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok").cast("long")).as("n_tokens"))
      .withColumn("source_share",
        round(col("n_docs").cast("double") /
          sum(col("n_docs")).over(w), 6))
  }

  /** Winsorization band for [[winsorize]], in integer percent: clip to
    * [p5, p95] by NEAREST RANK.
    */
  val WinsorLoPct = 5
  val WinsorHiPct = 95

  /** Percentile winsorization — the APPLY step after outlier detection
    * (Ext.robustOutliers is the detect step): clip each document's
    * length metric to its source's [p5, p95] band, the standard
    * pre-training transform that caps pathological documents without
    * dropping them. Bounds are NEAREST-RANK percentiles (the smallest
    * value whose cumulative count reaches p% of the group — always an
    * actual data value, so every quantity here is BIGINT end to end;
    * interpolated percentiles are NOT integral off the median, and the
    * engines disagree on double→int casts, which is exactly the drift
    * this formulation designs out). The threshold test cross-multiplies
    * (`cum·100 ≥ n·p`) so there is no ceil and no division anywhere.
    *
    * Plan: the corpus collapses to its per-source value histogram
    * (map-side-combined groupBy, the [[graft.engine.Linkage.driftKs]]
    * support-walk shape); two same-spec windows rank it per source; the
    * source-count-sized bounds broadcast back for the map-side clip.
    */
  def winsorize(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
      .filter(col("n_chars").isNotNull)
      .select(col("doc_id"), col("source"), col("n_chars"))
    val hist = d.groupBy(col("source"), col("n_chars").as("v"))
      .agg(count(lit(1)).as("cnt"))
    val wOrd = Window.partitionBy("source").orderBy("v")
    val wAll = Window.partitionBy("source")
    val ranked = hist
      .withColumn("cum", sum(col("cnt")).over(wOrd))
      .withColumn("n", sum(col("cnt")).over(wAll))
    val bounds = ranked.groupBy("source").agg(
      min(when(col("cum") * 100 >= col("n") * WinsorLoPct, col("v")))
        .as("lo"),
      min(when(col("cum") * 100 >= col("n") * WinsorHiPct, col("v")))
        .as("hi"))
    d.join(broadcast(bounds), "source")
      .select(col("doc_id"), col("source"), col("n_chars"),
        greatest(least(col("n_chars"), col("hi")), col("lo"))
          .as("clipped"),
        when(greatest(least(col("n_chars"), col("hi")), col("lo"))
          =!= col("n_chars"), 1L).otherwise(0L).as("was_clipped"))
  }

  /** Negatives drawn per anchor by [[negativeSample]]. */
  val NegK = 4
  /** Anchor selection: every [[NegAnchorMod]]-th doc anchors a
    * contrastive example.
    */
  val NegAnchorMod = 20

  /** Deterministic negative sampling for contrastive training pairs:
    * each anchor document draws [[NegK]] pseudo-random negatives by
    * HASH-ADDRESSING into the corpus id space — negative j of anchor a
    * is the doc with id `h(a, j) mod N` (self-hits remapped to the next
    * id). This is the scale-honest shape: k equi-joins against the
    * corpus (each anchor row fans out to exactly k probe rows — work is
    * |anchors|·k), where the naive "rank all candidates per anchor"
    * formulation materializes |anchors|·|corpus| pairs before its top-k.
    * No rand() anywhere: the draw is a pure integer function of
    * (anchor, slot), so reruns, retries, and both engines produce the
    * same pairs bit-for-bit.
    *
    * Contract: ids are DENSE 0..N−1 (fixture ids are; at production
    * scale the pipeline keys negatives off the dense surrogate id a
    * corpus snapshot assigns anyway — the same snapshot dedup/packing
    * use). The mix products stay in 64-bit range for ids < 2^33. The
    * closing equi-join validates existence against the id snapshot and
    * is the realistic physical shape (hash join on neg_id).
    */
  def negativeSample(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select("doc_id")
    val n = docs.agg(count(lit(1)).cast("long").as("n_docs"))
    val probes = docs.filter(col("doc_id") % NegAnchorMod === 0)
      .select(col("doc_id").as("anchor_id"))
      .crossJoin(broadcast(n))
      .select(col("anchor_id"), col("n_docs"),
        explode(sequence(lit(0), lit(NegK - 1))).as("slot"))
      .withColumn("raw",
        expr("((anchor_id * 1103515245 + slot * 2654435761 + 12345)" +
          " % 2147483647) % n_docs"))
      .withColumn("neg_id",
        expr("CASE WHEN raw = anchor_id THEN (raw + 1) % n_docs" +
          " ELSE raw END"))
    probes
      .join(docs.select(col("doc_id").as("neg_id")), Seq("neg_id"))
      .select(col("anchor_id"), col("slot"), col("neg_id"))
  }

  /** Corpus composition report: per (lang, source) document/token mass
    * with global and cumulative shares — the dataset card every corpus
    * release publishes (and the input to [[domainMix]]-style reweighting
    * decisions). Shares are integer ppm against a 1-row broadcast total;
    * the cumulative walk rides the sanctioned post-aggregate
    * SinglePartition window (the frame is group-count-sized — tens of
    * rows — never corpus rows), ordered totally by (n_docs desc, lang,
    * source) so the running share is engine-independent.
    */
  def coverageReport(spark: SparkSession, dir: String): DataFrame = {
    val g = Tables.documents(spark, dir)
      .select(col("lang"), col("source"),
        size(toks).cast("long").as("toks"))
      .groupBy("lang", "source")
      .agg(count(lit(1)).as("n_docs"), sum(col("toks")).as("n_tokens"))
    val tot = g.agg(sum(col("n_docs")).cast("long").as("t_docs"),
      sum(col("n_tokens")).cast("long").as("t_tokens"))
    val w = Window.orderBy(col("n_docs").desc, col("lang"), col("source"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // window BEFORE the totals join: the SinglePartition exchange then
    // sits directly above the group aggregate (group-count-sized rows
    // into the one task), and the 1-row broadcast joins after
    g.withColumn("cum_docs", sum(col("n_docs")).over(w))
      .crossJoin(broadcast(tot))
      .select(col("lang"), col("source"), col("n_docs"), col("n_tokens"),
        expr("CAST(n_docs * 1000000 DIV t_docs AS BIGINT)")
          .as("doc_share_ppm"),
        expr("CAST(n_tokens * 1000000 DIV t_tokens AS BIGINT)")
          .as("token_share_ppm"),
        expr("CAST(cum_docs * 1000000 DIV t_docs AS BIGINT)")
          .as("cum_doc_share_ppm"))
  }

  /** Planted URLs for [[urlCanonical]]'s edge cases the synthesized
    * corpus URLs don't reach: http with its default :80, a hostless
    * path-free URL, a query of ONLY tracking params (canonical form must
    * drop the '?' entirely), and two raw-distinct URLs that canonicalize
    * identically. Percent-encoding normalization is documented
    * out-of-scope (neither engine's builtin decodes it; a production
    * pass adds it at this same seam).
    */
  private[graft] val UrlPlantedRows: PlantedRows[(Long, String)] =
    PlantedRows("doc_id", "url")(
      (915001L, "HTTP://Sub.Example.COM:80/A/B?z=9&a=1#top"),
      (915002L, "http://sub.example.com/A/B?a=1&z=9"),
      (915003L, "https://tracker.example.com/page?utm_source=x&utm_medium=y&fbclid=abc"),
      (915004L, "https://bare.example.com"),
      (915005L, "https://WWW.bare.example.com:443/?utm_campaign=z"))

  /** Tracking-parameter prefixes stripped during canonicalization (the
    * standard utm/click-id hygiene list).
    */
  private val TrackingParamRe = "^(utm_[a-z]+|ref|fbclid|gclid)="

  /** URL canonicalization + duplicate grouping — the FIRST dedup key a
    * web corpus has (before any content hash): the same page is crawled
    * as `HTTPS://WWW.Host:443/p?utm_source=…&b=2&a=1#frag` and
    * `https://host/p?a=1&b=2`, and byte-level URL dedup misses it.
    * Canonical form: lowercase scheme+host, strip `www.`, strip the
    * scheme's default port, root path for empty path, drop the
    * fragment, drop tracking params, SORT the surviving query params
    * (param order is transport noise), drop an emptied query. The
    * corpus URL is synthesized deterministically from (source, doc_id)
    * with exactly that noise injected — so canonical groups form ACROSS
    * the corpus and both engines derive identical inputs — and
    * [[UrlPlantedRows]] pin the edge cases. The
    * synth moduli (path %3, id %5) are chosen against the fixture's
    * source = doc_id %20 layout so canonical groups of ~8 docs form
    * within every source — the operator visibly deduplicates the
    * corpus, not just the planted pair. One regex parse (capture
    * groups, RE2-safe, no backreferences) + array HOFs; single window
    * exchange on the canonical key for group stats.
    */
  def urlCanonical(spark: SparkSession, dir: String): DataFrame = {
    val synth = Tables.documents(spark, dir).select(col("doc_id"),
      concat(
        when(col("doc_id") % 4 === 0, lit("HTTPS")).otherwise(lit("https")),
        lit("://"),
        when(col("doc_id") % 3 === 0, lit("WWW.")).otherwise(lit("")),
        col("source"), lit(".Example.COM"),
        when(col("doc_id") % 4 === 0, lit(":443"))
          .when(col("doc_id") % 4 === 1, lit(":8080")).otherwise(lit("")),
        lit("/docs/"), col("doc_id") % 3,
        lit("?utm_source=feed&id="), col("doc_id") % 5,
        when(col("doc_id") % 2 === 0, lit("&ref=tw")).otherwise(lit("")),
        lit("&b=2&a=1"),
        when(col("doc_id") % 6 === 0,
          concat(lit("#sec"), col("doc_id") % 3)).otherwise(lit("")))
        .as("url"))
    val all = UrlPlantedRows.onto(synth)
    val re = "^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#:]*)(:[0-9]+)?([^?#]*)(\\?[^#]*)?"
    val scheme = lower(regexp_extract(col("url"), re, 1))
    val host = regexp_replace(
      lower(regexp_extract(col("url"), re, 2)), "^www\\.", "")
    val port = regexp_extract(col("url"), re, 3)
    val path = regexp_extract(col("url"), re, 4)
    val rawQ = regexp_extract(col("url"), re, 5)
    val keptParams = array_sort(filter(
      split(regexp_replace(rawQ, "^\\?", ""), "&"),
      p => p =!= "" && !p.rlike(TrackingParamRe)))
    val canon = concat(
      scheme, lit("://"), host,
      when((port === ":443" && scheme === "https") ||
           (port === ":80" && scheme === "http"), lit(""))
        .otherwise(port),
      when(path === "", lit("/")).otherwise(path),
      when(size(keptParams) === 0, lit(""))
        .otherwise(concat(lit("?"), array_join(keptParams, "&"))))
    val w = Window.partitionBy(col("canonical_url"))
    all.select(col("doc_id"), col("url"), canon.as("canonical_url"))
      .withColumn("n_dups", count(lit(1)).over(w))
      .withColumn("is_keeper", col("doc_id") === min(col("doc_id")).over(w))
  }

  /** Blocklist rules for [[domainFilter]] — registrable-domain entries
    * that must also catch every subdomain (label-aligned, so
    * `spam.example.com` blocks `a.b.spam.example.com` but NOT
    * `notspam.example.com`). `src3.example.com` blocks one whole
    * synthesized crawl domain; `tracker.example.com` crosses with the
    * URL fixture's planted tracker row.
    */
  private[graft] val DomainBlocklist: Seq[String] = Seq(
    "spam.example.com", "ads.example.net", "tracker.example.com",
    "src3.example.com")

  /** Deep-subdomain / boundary cases planted into [[domainFilter]]. */
  private[graft] val DomainPlantedRows: PlantedRows[(Long, String)] =
    PlantedRows("doc_id", "url")(
      (980001L, "https://a.b.spam.example.com/page?x=1"),
      (980002L, "https://notspam.example.com/ok"),
      (980003L, "http://ads.example.net/banner"),
      (980004L, "https://WWW.Tracker.Example.COM:443/t"),
      (980005L, "https://clean.example.org/fine"))

  /** Domain-blocklist filtering — the crawl-curation gate that runs ON
    * TOP of [[urlCanonical]]'s output (canonicalize first, then judge
    * the host): a document is blocked when its host, or ANY parent
    * domain of it, is a blocklist entry. Matching is label-aligned via
    * the suffix-chain explode — host `a.b.spam.example.com` emits
    * suffixes `[a.b.spam.example.com, b.spam.example.com,
    * spam.example.com, example.com, com]` and the chain equi-joins the
    * broadcast blocklist — so `notspam.example.com` can never match a
    * `spam.example.com` rule, and NO `LIKE '%.rule'` scan exists
    * anywhere (at 100 TB a per-rule LIKE is rules×rows work; the
    * suffix chain is rows×labels, labels bounded by hostname grammar,
    * and the join is one hash lookup per suffix against a blocklist
    * that stays dimension-sized even at 100k real-world entries).
    */
  def domainFilter(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val re = "^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#:]*)(:[0-9]+)?"
    val all = DomainPlantedRows.onto(urlCanonical(spark, dir)
      .select(col("doc_id"), col("canonical_url").as("url")))
    val hosts = all.select(col("doc_id"),
      regexp_replace(lower(regexp_extract(col("url"), re, 2)),
        "^www\\.", "").as("host"))
    val labels = split(col("host"), "\\.")
    val sufs = hosts.select(col("doc_id"),
      explode(transform(sequence(lit(1), size(labels)),
        i => array_join(slice(labels, i, size(labels)), ".")))
        .as("suffix"))
    val matched = sufs
      .join(broadcast(DomainBlocklist.toDF("rule")),
        col("suffix") === col("rule"))
      .groupBy("doc_id").agg(min(col("rule")).as("matched_rule"))
    hosts.join(matched, Seq("doc_id"), "left")
      .select(col("doc_id"), col("host"),
        col("matched_rule").isNotNull.as("blocked"), col("matched_rule"))
  }

  /** k-anonymity floor for [[kAnonymity]]: a (lang, source) release
    * group must hold at least this many documents or be suppressed. */
  val KAnonK = 5

  /** k-anonymity suppression — the release gate on a PUBLISHED dataset
    * card: quasi-identifier groups (lang, source) smaller than
    * [[KAnonK]] would re-identify their members, so they fold into one
    * starred residual bucket (count and group-count preserved — the
    * release still reconciles to the corpus total, but no rare
    * combination survives). Output: surviving groups plus the residual
    * row. Two aggregates — the grouped rollup (one exchange) and the
    * residual fold over the GROUP-sized table (single-partition above
    * an aggregate, the sanctioned funnel).
    */
  def kAnonymity(spark: SparkSession, dir: String): DataFrame = {
    val g = Tables.documents(spark, dir)
      .groupBy("lang", "source").agg(count(lit(1)).as("n_docs"))
    val kept = g.filter(col("n_docs") >= KAnonK)
      .select(col("lang"), col("source"), col("n_docs"),
        lit(1L).as("n_groups"), lit(false).as("suppressed"))
    val residual = g.filter(col("n_docs") < KAnonK)
      .agg(sum(col("n_docs")).as("n_docs"),
        count(lit(1)).as("n_groups"))
      .select(lit("*").as("lang"), lit("*").as("source"),
        col("n_docs"), col("n_groups"), lit(true).as("suppressed"))
    kept.unionByName(residual)
  }

  val queries: Map[String, Q] = Map(
    "q_k_anonymity" -> kAnonymity _,
    "q_domain_filter" -> domainFilter _,
    "q_url_canonical" -> urlCanonical _,
    "q_mix_temperature" -> mixTemperature _,
    "q_epoch_plan" -> epochPlan _,
    "q_coverage_report" -> coverageReport _,
    "q_negative_sample" -> negativeSample _,
    "q_winsorize" -> winsorize _,
    "q_text_scrub" -> textScrub _,
    "q_pii_audit" -> piiAudit _,
    "q_deletion_audit" -> deletionAudit _,
    "q_dataset_card" -> datasetCard _,
    "q_doc_chunk" -> docChunk _,
    "q_stratified_sample" -> stratifiedSample _,
    "q_weighted_sample" -> weightedSample _,
    "q_repetition" -> repetition _,
    "q_data_shuffle" -> dataShuffle _,
    "q_corpus_curate" -> corpusCurate _,
    "q_domain_mix" -> domainMix _,
    "q_pack_sequences" -> packSequences _,
    "q_pack_manifest" -> packManifest _,
    "q_quality_threshold" -> qualityThreshold _,
    "q_token_budget" -> tokenBudget _,
    "q_hash_split" -> hashSplit _)

  private[engine] val stopList = TextOps.Stopwords.map(s => s"'$s'").mkString(", ")
  private val enList =
    TextOps.LangMarkers.head._2.map(s => s"'$s'").mkString(", ")
  private[engine] val qExpr =
    """round(least(CAST(n_tok AS DOUBLE) / 50, 1.0) *
      |    (1.0 - CAST(n_stop AS DOUBLE) / n_tok), 6)""".stripMargin

  private val corpusCurateSql =
    s"""WITH scored AS (
       |  SELECT doc_id, source,
       |    len(${TextOps.segmentSql("text")}) AS n_tok,
       |    len(list_filter(${TextOps.segmentSql("text")},
       |      t -> t IN ($stopList))) AS n_stop,
       |    len(list_filter(${TextOps.segmentSql("text")},
       |      t -> t IN ($enList))) AS score_en,
       |    min(doc_id) OVER (PARTITION BY
       |      ${TextOps.portableFpSql("text", FpBase1, FpMod1)},
       |      ${TextOps.portableFpSql("text", FpBase2, FpMod2)}) AS keep_id
       |  FROM documents),
       |flagged AS (
       |  SELECT *,
       |    CAST(round(($qExpr) * 1000000) AS BIGINT) AS q_micro,
       |    (doc_id = keep_id
       |     AND CAST(round(($qExpr) * 1000000) AS BIGINT)
       |       >= ${(QualityFloor * 1000000L).toLong}
       |     AND n_tok BETWEEN $MinTokens AND $MaxTokens
       |     AND score_en >= 1) AS kept
       |  FROM scored)
       |SELECT source, count(*) AS n_docs,
       |  count(CASE WHEN kept THEN 1 END) AS n_kept,
       |  round(CAST(count(CASE WHEN kept THEN 1 END) AS DOUBLE)
       |    / count(*), 6) AS kept_ratio,
       |  round(CAST(coalesce(sum(CASE WHEN kept THEN q_micro END), 0)
       |    AS DOUBLE) / 1000000, 6) AS sum_quality_kept,
       |  CAST(coalesce(sum(CASE WHEN kept THEN n_tok END), 0) AS BIGINT)
       |    AS tokens_kept
       |FROM flagged GROUP BY source""".stripMargin

  private val urlCanonicalSql: String = {
    val re = "^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#:]*)(:[0-9]+)?([^?#]*)(\\?[^#]*)?"
    s"""WITH syn AS (SELECT doc_id,
       |    (CASE WHEN doc_id % 4 = 0 THEN 'HTTPS' ELSE 'https' END)
       |    || '://'
       |    || (CASE WHEN doc_id % 3 = 0 THEN 'WWW.' ELSE '' END)
       |    || source || '.Example.COM'
       |    || (CASE WHEN doc_id % 4 = 0 THEN ':443'
       |        WHEN doc_id % 4 = 1 THEN ':8080' ELSE '' END)
       |    || '/docs/' || (doc_id % 3)
       |    || '?utm_source=feed&id=' || (doc_id % 5)
       |    || (CASE WHEN doc_id % 2 = 0 THEN '&ref=tw' ELSE '' END)
       |    || '&b=2&a=1'
       |    || (CASE WHEN doc_id % 6 = 0 THEN '#sec' || (doc_id % 3)
       |        ELSE '' END) AS url
       |  FROM documents),
       |u AS (${UrlPlantedRows.ontoSql("syn")}),
       |p AS (SELECT doc_id, url,
       |    lower(regexp_extract(url, '$re', 1)) AS scheme,
       |    regexp_replace(lower(regexp_extract(url, '$re', 2)),
       |      '^www\\.', '') AS host,
       |    regexp_extract(url, '$re', 3) AS port,
       |    regexp_extract(url, '$re', 4) AS path,
       |    regexp_extract(url, '$re', 5) AS rawq
       |  FROM u),
       |k AS (SELECT *, list_sort(list_filter(
       |    string_split(regexp_replace(rawq, '^\\?', ''), '&'),
       |    q -> q <> '' AND NOT regexp_matches(q,
       |      '$TrackingParamRe'))) AS kept FROM p),
       |c AS (SELECT doc_id, url,
       |    scheme || '://' || host
       |    || (CASE WHEN (port = ':443' AND scheme = 'https')
       |          OR (port = ':80' AND scheme = 'http')
       |        THEN '' ELSE port END)
       |    || (CASE WHEN path = '' THEN '/' ELSE path END)
       |    || (CASE WHEN len(kept) = 0 THEN ''
       |        ELSE '?' || array_to_string(kept, '&') END) AS canonical_url
       |  FROM k)
       |SELECT doc_id, url, canonical_url,
       |  CAST(count(*) OVER (PARTITION BY canonical_url) AS BIGINT)
       |    AS n_dups,
       |  doc_id = min(doc_id) OVER (PARTITION BY canonical_url)
       |    AS is_keeper
       |FROM c""".stripMargin
  }

  private val mixTemperatureSql: String = {
    val scale2 = MixWeightScale * MixWeightScale
    s"""WITH src AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(sum(len(${TextOps.segmentSql("text")})) AS BIGINT) AS n_tokens
       |  FROM documents GROUP BY source),
       |cand AS (SELECT *, n_tokens * $scale2 AS m,
       |    CAST(floor(sqrt(CAST(n_tokens * $scale2 AS DOUBLE))) AS BIGINT)
       |      AS k0 FROM src),
       |srcw AS (SELECT source, n_docs, n_tokens,
       |    k0 - (CASE WHEN k0 * k0 > m THEN 1 ELSE 0 END)
       |       + (CASE WHEN (k0 + 1) * (k0 + 1) <= m THEN 1 ELSE 0 END)
       |      AS w FROM cand),
       |tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS tot_tokens,
       |    CAST(sum(w) AS BIGINT) AS tot_w FROM srcw)
       |SELECT source, n_docs, n_tokens,
       |  CAST(n_tokens * 1000000 // tot_tokens AS BIGINT) AS share_ppm,
       |  round(CAST(w AS DOUBLE) / CAST(tot_w AS DOUBLE), 6)
       |    AS temp_weight,
       |  round(CAST(CAST(w AS DECIMAL(38,0)) * tot_tokens AS DOUBLE)
       |    / CAST(CAST(tot_w AS DECIMAL(38,0)) * n_tokens AS DOUBLE), 6)
       |    AS boost
       |FROM srcw CROSS JOIN tot""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "q_mix_temperature" -> mixTemperatureSql,
    "q_epoch_plan" ->
      s"""WITH scored AS (SELECT source,
         |    len(${TextOps.segmentSql("text")}) AS n_tok,
         |    len(list_filter(${TextOps.segmentSql("text")},
         |      t -> t IN ($stopList))) AS n_stop
         |  FROM documents),
         |per AS (SELECT source,
         |    CAST(sum(n_tok) AS BIGINT) AS unique_tokens,
         |    CAST(sum(COALESCE(CASE WHEN n_tok > 0
         |      THEN CAST(round(($qExpr) * 1000000) AS BIGINT) END, 0))
         |      AS BIGINT) AS quality_sum
         |  FROM scored GROUP BY source),
         |tot AS (SELECT CAST(sum(unique_tokens) AS BIGINT) AS tot_tokens,
         |    CAST(sum(quality_sum) AS BIGINT) AS tot_quality FROM per),
         |alloc AS (SELECT source, unique_tokens, quality_sum,
         |    CASE WHEN tot_quality > 0 THEN CAST(
         |      CAST($EpochBudgetEpochs AS HUGEINT) * tot_tokens
         |        * quality_sum // tot_quality AS BIGINT)
         |      ELSE 0 END AS alloc_tokens
         |  FROM per CROSS JOIN tot),
         |capped AS (SELECT *,
         |    CASE WHEN unique_tokens > 0 THEN
         |      (alloc_tokens + unique_tokens - 1) // unique_tokens
         |      ELSE 0 END AS epochs_needed,
         |    least(alloc_tokens, $EpochCap * unique_tokens)
         |      AS served_tokens
         |  FROM alloc),
         |room AS (SELECT *,
         |    least(CAST($EpochCap AS BIGINT), epochs_needed) AS epochs,
         |    alloc_tokens - served_tokens AS shortfall,
         |    $EpochCap * unique_tokens - served_tokens AS headroom
         |  FROM capped),
         |rtot AS (SELECT CAST(sum(shortfall) AS BIGINT) AS tot_short,
         |    CAST(sum(headroom) AS BIGINT) AS tot_head FROM room),
         |fin AS (SELECT r.*,
         |    CASE WHEN tot_head > 0 THEN CAST(
         |      CAST(tot_short AS HUGEINT) * headroom // tot_head
         |      AS BIGINT) ELSE 0 END AS extra_tokens
         |  FROM room r CROSS JOIN rtot)
         |SELECT source, unique_tokens, quality_sum, alloc_tokens,
         |  epochs_needed, epochs, served_tokens, shortfall, headroom,
         |  extra_tokens,
         |  served_tokens + extra_tokens AS final_tokens,
         |  CASE WHEN unique_tokens > 0 THEN
         |    (served_tokens + extra_tokens) * 1000 // unique_tokens
         |    ELSE 0 END AS final_epochs_milli
         |FROM fin""".stripMargin,
    "q_url_canonical" -> urlCanonicalSql,
    "q_k_anonymity" ->
      s"""WITH g AS (SELECT lang, source, count(*) AS n
         |  FROM documents GROUP BY lang, source)
         |SELECT lang, source, CAST(n AS BIGINT) AS n_docs,
         |  CAST(1 AS BIGINT) AS n_groups, false AS suppressed
         |FROM g WHERE n >= $KAnonK
         |UNION ALL
         |SELECT '*' AS lang, '*' AS source, CAST(sum(n) AS BIGINT)
         |  AS n_docs, CAST(count(*) AS BIGINT) AS n_groups,
         |  true AS suppressed
         |FROM g WHERE n < $KAnonK""".stripMargin,
    "q_domain_filter" -> {
      val rules = DomainBlocklist.map(r => s"'$r'").mkString(", ")
      // NOTE: urlCanonicalSql contains `||` concat operators, so it must
      // be spliced in AFTER stripMargin (stripMargin would eat one pipe)
      val tail =
        s"""cu AS (SELECT doc_id, canonical_url AS url FROM uc),
           |src AS (${DomainPlantedRows.ontoSql("cu")}),
           |h AS (SELECT doc_id, regexp_replace(lower(regexp_extract(url,
           |    '^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#:]*)(:[0-9]+)?', 2)),
           |    '^www\\.', '') AS host FROM src),
           |s AS (SELECT doc_id, host,
           |    unnest(list_transform(
           |      range(1, len(string_split(host, '.')) + 1),
           |      i -> array_to_string(string_split(host, '.')[i:], '.')))
           |    AS suffix FROM h),
           |m AS (SELECT doc_id, min(suffix) AS matched_rule FROM s
           |  WHERE suffix IN ($rules) GROUP BY doc_id)
           |SELECT h.doc_id, h.host, m.matched_rule IS NOT NULL AS blocked,
           |  m.matched_rule
           |FROM h LEFT JOIN m ON h.doc_id = m.doc_id""".stripMargin
      s"WITH uc AS ($urlCanonicalSql),\n$tail"
    },
    "q_coverage_report" ->
      s"""WITH g AS (SELECT lang, source, count(*) AS n_docs,
        |    CAST(sum(len(${TextOps.segmentSql("text")})) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY lang, source),
        |t AS (SELECT CAST(sum(n_docs) AS BIGINT) AS t_docs,
        |  CAST(sum(n_tokens) AS BIGINT) AS t_tokens FROM g)
        |SELECT lang, source, n_docs, n_tokens,
        |  CAST(n_docs * 1000000 // t_docs AS BIGINT) AS doc_share_ppm,
        |  CAST(n_tokens * 1000000 // t_tokens AS BIGINT)
        |    AS token_share_ppm,
        |  CAST(sum(n_docs) OVER (ORDER BY n_docs DESC, lang, source
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    * 1000000 // t_docs AS BIGINT) AS cum_doc_share_ppm
        |FROM g CROSS JOIN t""".stripMargin,
    "q_negative_sample" ->
      s"""WITH d AS (SELECT doc_id FROM documents),
         |n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM d),
         |pr AS (SELECT anchor_id, slot, n_docs,
         |    ((anchor_id * 1103515245 + slot * 2654435761 + 12345)
         |      % 2147483647) % n_docs AS raw
         |  FROM (SELECT doc_id AS anchor_id FROM d
         |    WHERE doc_id % $NegAnchorMod = 0)
         |  CROSS JOIN n,
         |  (SELECT unnest(range(0, $NegK)) AS slot)),
         |x AS (SELECT anchor_id, CAST(slot AS INTEGER) AS slot,
         |    CASE WHEN raw = anchor_id THEN (raw + 1) % n_docs
         |      ELSE raw END AS neg_id
         |  FROM pr)
         |SELECT anchor_id, slot, neg_id
         |FROM x JOIN d ON x.neg_id = d.doc_id""".stripMargin,
    "q_winsorize" ->
      s"""WITH d AS (SELECT doc_id, source, n_chars FROM documents
         |  WHERE n_chars IS NOT NULL),
         |c AS (SELECT source, n_chars AS v, count(*) AS cnt
         |  FROM d GROUP BY source, n_chars),
         |r AS (SELECT source, v,
         |    sum(cnt) OVER (PARTITION BY source ORDER BY v) AS cum,
         |    sum(cnt) OVER (PARTITION BY source) AS n FROM c),
         |b AS (SELECT source,
         |    min(CASE WHEN cum * 100 >= n * $WinsorLoPct THEN v END)
         |      AS lo,
         |    min(CASE WHEN cum * 100 >= n * $WinsorHiPct THEN v END)
         |      AS hi
         |  FROM r GROUP BY source)
         |SELECT doc_id, d.source, n_chars,
         |  greatest(least(n_chars, hi), lo) AS clipped,
         |  CAST(CASE WHEN greatest(least(n_chars, hi), lo) <> n_chars
         |    THEN 1 ELSE 0 END AS BIGINT) AS was_clipped
         |FROM d JOIN b ON d.source = b.source""".stripMargin,
    "q_text_scrub" ->
      """SELECT doc_id, CAST(len(regexp_extract_all(raw, '[a-z0-9]+@[a-z0-9.]+')) AS BIGINT) AS n_emails, CAST(len(regexp_extract_all(raw, 'https?://[^ ]+')) AS BIGINT) AS n_urls, regexp_replace(regexp_replace(raw, 'https?://[^ ]+', '<URL>', 'g'), '[a-z0-9]+@[a-z0-9.]+', '<EMAIL>', 'g') AS scrubbed FROM (SELECT doc_id, text || ' contact user' || doc_id || '@example.com via http://site' || doc_id || '.com' AS raw FROM documents)""",
    "q_pii_audit" -> {
      val countCols = PiiPatterns.map { case (name, re, _) =>
        s"CAST(len(regexp_extract_all(text, '$re')) AS BIGINT) AS n_$name"
      }.mkString(", ")
      val red = PiiPatterns.foldLeft("text") { case (acc, (_, re, ph)) =>
        s"regexp_replace($acc, '$re', '$ph', 'g')"
      }
      val total = PiiPatterns.map { case (_, re, _) =>
        s"len(regexp_extract_all(text, '$re'))"
      }.mkString(" + ")
      s"""WITH src AS (${PiiPlantedRows.ontoSql("documents")})
         |SELECT doc_id, $countCols, $red AS redacted,
         |  ($total) > 0 AS has_pii
         |FROM src""".stripMargin
    },
    "q_dataset_card" -> {
      val sl = (TextOps.Stopwords ++ TextOps.CjkStopwords)
        .map(w => s"'$w'").mkString(", ")
      val piiCounts = PiiPatterns.map { case (_, re, _) =>
        s"len(regexp_extract_all(text, '${re.replace("'", "''")}'))"
      }.mkString(" + ")
      val flagPred = TextOps.ContentTaxonomy.map { case (_, words) =>
        val ws = words.map(w => s"'$w'").mkString(", ")
        s"len(list_filter(t, x -> x IN ($ws))) >= ${TextOps.ContentFlagMin}"
      }.mkString(" OR ")
      s"""WITH ${Dedup.minhashCtes},
         |ver AS (${Dedup.verifySql(Dedup.MinhashThreshold)}),
         |cver AS (SELECT doc_a, doc_b FROM ver
         |  WHERE doc_a IN (SELECT doc_id FROM documents)
         |    AND doc_b IN (SELECT doc_id FROM documents)),
         |dp AS (SELECT CAST(count(*) AS BIGINT) AS n_dup_pairs
         |  FROM cver),
         |dd AS (SELECT CAST(count(DISTINCT d) AS BIGINT) AS n_dup_docs
         |  FROM (SELECT doc_a AS d FROM cver
         |    UNION ALL SELECT doc_b FROM cver)),
         |per AS (SELECT lang, strlen(text) AS nb,
         |    ${TextOps.segmentSql("text")} AS t,
         |    ($piiCounts) > 0 AS pii,
         |    ${Dedup.idUtf8Sql(
               "CAST(doc_id AS VARCHAR) || ':' || text")} AS hv
         |  FROM documents),
         |pq AS (SELECT lang, nb, CAST(len(t) AS BIGINT) AS ntok,
         |    len(list_filter(t, w -> w IN ($sl))) AS nstop,
         |    list_filter(t, w -> NOT regexp_matches(w,
         |      '^[${TextOps.SegPerCharClass}]$$')) AS wt,
         |    list_transform(range(1, len(t)),
         |      i -> t[i] || ' ' || t[i+1]) AS b2,
         |    ($flagPred) AS flagged, pii, hv
         |  FROM per),
         |pv AS (SELECT lang, nb, ntok, flagged, pii, hv,
         |    NOT (ntok < ${TextOps.RuleMinTokens}
         |      OR ntok > ${TextOps.RuleMaxTokens}
         |      OR nstop < ${TextOps.RuleMinStopInstances}
         |      OR (len(wt) > 0 AND (
         |        coalesce(list_sum(list_transform(wt,
         |          w -> length(w))), 0)
         |          < len(wt) * ${TextOps.RuleMinMeanLenX1}
         |        OR coalesce(list_sum(list_transform(wt,
         |          w -> length(w))), 0)
         |          > len(wt) * ${TextOps.RuleMaxMeanLenX1}))
         |      OR (len(b2) > 0 AND
         |        (len(b2) - len(list_distinct(b2)))
         |          * ${TextOps.RuleDupBigramDen} > len(b2)))
         |      AS keep
         |  FROM pq),
         |base AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(sum(nb) AS BIGINT) AS n_bytes,
         |    CAST(sum(ntok) AS BIGINT) AS n_tokens,
         |    CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
         |    CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_quality_keep,
         |    CAST(sum(CASE WHEN pii THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_pii_docs,
         |    CAST(sum(CASE WHEN flagged THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_flagged,
         |    CAST(sum(CAST(hv AS DECIMAL(38,0))) % ${Dedup.IdMod}
         |      AS BIGINT) AS fp_corpus
         |  FROM pv),
         |top AS (SELECT lang AS top_lang,
         |    CAST(count(*) AS BIGINT) AS top_lang_docs
         |  FROM documents GROUP BY lang
         |  ORDER BY count(*) DESC, lang LIMIT 1)
         |SELECT n_docs, n_bytes, n_tokens, n_langs, top_lang,
         |  top_lang_docs, n_quality_keep,
         |  CAST(n_quality_keep * 1000000 // n_docs AS BIGINT)
         |    AS keep_ppm,
         |  n_pii_docs,
         |  CAST(n_pii_docs * 1000000 // n_docs AS BIGINT) AS pii_ppm,
         |  n_flagged,
         |  CAST(n_flagged * 1000000 // n_docs AS BIGINT) AS flagged_ppm,
         |  n_dup_pairs, n_dup_docs,
         |  CAST(n_dup_docs * 1000000 // n_docs AS BIGINT) AS dup_ppm,
         |  fp_corpus
         |FROM base, top, dp, dd""".stripMargin
    },
    "q_deletion_audit" -> {
      val total = PiiPatterns.map { case (_, re, _) =>
        s"len(regexp_extract_all(text, '$re'))"
      }.mkString(" + ")
      val red = PiiPatterns.foldLeft("text") { case (acc, (_, re, ph)) =>
        s"regexp_replace($acc, '$re', '$ph', 'g')"
      }
      val resid = PiiPatterns.map { case (_, re, _) =>
        s"len(regexp_extract_all($red, '$re'))"
      }.mkString(" + ")
      s"""WITH src AS (${PiiPlantedRows.ontoSql("documents")}),
         |per AS (SELECT doc_id, text,
         |    COALESCE(text IS NOT NULL AND ($total) > 0, FALSE) AS p,
         |    CASE WHEN text IS NOT NULL AND ($resid) > 0
         |      THEN 1 ELSE 0 END AS res
         |  FROM src)
         |SELECT CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(CASE WHEN p THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_pii_docs,
         |  CAST(sum(CASE WHEN p THEN 0 ELSE 1 END) AS BIGINT)
         |    AS n_retained,
         |  CAST(sum(CASE WHEN NOT p THEN CAST(${graft.engine.Dedup
              .idUtf8Sql("CAST(doc_id AS VARCHAR) || ':' || text")}
         |    AS HUGEINT) END) % ${Dedup.IdMod} AS BIGINT)
         |    AS fp_retained,
         |  CAST(sum(res) AS BIGINT) AS n_redacted_residual
         |FROM per""".stripMargin
    },
    "q_doc_chunk" ->
      s"""SELECT doc_id, CAST(start / $ChunkStride AS INTEGER) AS chunk_idx, CAST(len(t[start + 1 : least(start + $ChunkSize, len(t))]) AS BIGINT) AS n_chunk_tokens, array_to_string(t[start + 1 : least(start + $ChunkSize, len(t))], ' ') AS chunk_text FROM (SELECT doc_id, ${TextOps.segmentSql("text")} AS t, unnest(range(0, greatest(len(${TextOps.segmentSql("text")}), 1), $ChunkStride)) AS start FROM documents) WHERE len(t[start + 1 : least(start + $ChunkSize, len(t))]) > 0""",
    "q_weighted_sample" ->
      s"""WITH s AS (SELECT doc_id, len(${TextOps.segmentSql("text")}) AS n_tokens, CAST((doc_id * 2654435761) % 1000000007 AS DOUBLE) / 1000000007 AS u FROM documents) SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens, round(least(1.0, n_tokens / 100.0), 6) AS weight, round(u, 6) AS u FROM s WHERE u < least(1.0, n_tokens / 100.0)""",
    "q_stratified_sample" ->
      """SELECT lang, count(*) AS n_total, COUNT(CASE WHEN doc_id % 10 < 3 THEN 1 END) AS n_sampled, round(CAST(COUNT(CASE WHEN doc_id % 10 < 3 THEN 1 END) AS DOUBLE) / count(*), 6) AS sample_ratio FROM documents GROUP BY lang""",
    "q_repetition" ->
      s"""SELECT doc_id, CAST(len(g2) AS BIGINT) AS n_2grams, CAST(len(list_distinct(g2)) AS BIGINT) AS n_distinct_2grams, round(1.0 - CAST(len(list_distinct(g2)) AS DOUBLE) / len(g2), 6) AS dup_2gram_ratio FROM (SELECT doc_id, list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1]) AS g2 FROM (SELECT doc_id, ${TextOps.segmentSql("text")} AS t FROM documents)) WHERE len(g2) > 0""",
    "q_data_shuffle" ->
      """SELECT doc_id, lang, (doc_id * 2654435761) % 1000000007 AS shuffle_key, CAST(row_number() OVER (ORDER BY (doc_id * 2654435761) % 1000000007, doc_id) AS BIGINT) AS position FROM documents""",
    "q_corpus_curate" -> corpusCurateSql,
    "q_pack_sequences" ->
      s"""WITH t AS (SELECT doc_id,
         |    CAST(len(${TextOps.segmentSql("text")}) AS BIGINT) AS n_tokens,
         |    (doc_id * 2654435761) % 1000000007 AS shuffle_key
         |  FROM documents),
         |c AS (SELECT *, CAST(coalesce(sum(n_tokens) OVER (
         |      ORDER BY shuffle_key, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |    AS BIGINT) AS cum_start FROM t)
         |SELECT doc_id, n_tokens, shuffle_key, cum_start,
         |  cum_start // $PackLen AS pack_id,
         |  cum_start % $PackLen AS pack_offset,
         |  CASE WHEN n_tokens > 0
         |    THEN (cum_start + n_tokens - 1) // $PackLen
         |      - cum_start // $PackLen
         |    ELSE CAST(0 AS BIGINT) END AS n_boundary_crossings
         |FROM c""".stripMargin,
    "q_pack_manifest" ->
      s"""WITH t AS (SELECT doc_id,
         |    CAST(len(${TextOps.segmentSql("text")}) AS BIGINT) AS n_tokens,
         |    (doc_id * 2654435761) % 1000000007 AS shuffle_key
         |  FROM documents),
         |c AS (SELECT *, CAST(coalesce(sum(n_tokens) OVER (
         |      ORDER BY shuffle_key, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |    AS BIGINT) AS cum_start FROM t),
         |d AS (SELECT doc_id, n_tokens, cum_start,
         |    cum_start // $PackLen AS p0,
         |    (cum_start + n_tokens - 1) // $PackLen AS p1
         |  FROM c WHERE n_tokens > 0),
         |seg AS (SELECT pack_id, doc_id,
         |    GREATEST(0, cum_start - pack_id * $PackLen) AS seg_start,
         |    LEAST($PackLen, cum_start + n_tokens - pack_id * $PackLen)
         |      - GREATEST(0, cum_start - pack_id * $PackLen) AS seg_len
         |  FROM d, LATERAL (SELECT unnest(range(p0, p1 + 1)) AS pack_id))
         |SELECT pack_id, doc_id, CAST(seg_start AS BIGINT) AS seg_start,
         |  CAST(seg_len AS BIGINT) AS seg_len,
         |  CAST(count(*) OVER (PARTITION BY pack_id) AS BIGINT) AS n_segs,
         |  CAST(sum(seg_len) OVER (PARTITION BY pack_id) AS BIGINT)
         |    AS pack_fill
         |FROM seg""".stripMargin,
    "q_quality_threshold" ->
      s"""WITH s AS (SELECT doc_id, source,
         |    len(${TextOps.segmentSql("text")}) AS n_tok,
         |    len(list_filter(${TextOps.segmentSql("text")},
         |      t -> t IN ($stopList))) AS n_stop
         |  FROM documents),
         |m AS (SELECT doc_id, source,
         |    CAST(round(($qExpr) * 1000000) AS BIGINT) AS q_micro FROM s),
         |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY source
         |      ORDER BY q_micro DESC, doc_id) AS BIGINT) AS q_rank,
         |    count(*) OVER (PARTITION BY source) AS n_source FROM m)
         |SELECT doc_id, source, q_micro, q_rank, n_source,
         |  q_rank <= CAST(ceil(n_source * $QualityKeepFrac) AS BIGINT)
         |    AS kept
         |FROM r""".stripMargin,
    "q_token_budget" ->
      s"""WITH s AS (SELECT doc_id,
         |    len(${TextOps.segmentSql("text")}) AS n_tok,
         |    len(list_filter(${TextOps.segmentSql("text")},
         |      t -> t IN ($stopList))) AS n_stop
         |  FROM documents),
         |m AS (SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tokens,
         |    CAST(round(($qExpr) * 1000000) AS BIGINT) AS q_micro FROM s),
         |c AS (SELECT *, CAST(coalesce(sum(n_tokens) OVER (
         |      ORDER BY q_micro DESC, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |    AS BIGINT) AS cum_before FROM m)
         |SELECT doc_id, n_tokens, q_micro, cum_before FROM c
         |WHERE cum_before + n_tokens <= $TokenBudget""".stripMargin,
    "q_hash_split" ->
      s"""WITH b AS (SELECT
         |    ${TextOps.portableFpSql("text", FpBase1, FpMod1)} % 100
         |      AS bucket,
         |    source, len(${TextOps.segmentSql("text")}) AS n_tok
         |  FROM documents),
         |s AS (SELECT CASE WHEN bucket < $SplitTrainPct THEN 'train'
         |      WHEN bucket < $SplitValPct THEN 'validation'
         |      ELSE 'test' END AS split, source, n_tok FROM b),
         |a AS (SELECT split, source, count(*) AS n_docs,
         |    CAST(sum(n_tok) AS BIGINT) AS n_tokens
         |  FROM s GROUP BY split, source)
         |SELECT split, source, n_docs, n_tokens,
         |  round(CAST(n_docs AS DOUBLE) /
         |    sum(n_docs) OVER (PARTITION BY source), 6) AS source_share
         |FROM a""".stripMargin,
    "q_domain_mix" ->
      s"""WITH t AS (SELECT source,
         |    CAST(sum(len(${TextOps.segmentSql("text")})) AS BIGINT) AS n_tokens
         |  FROM documents GROUP BY source),
         |g AS (SELECT source, n_tokens,
         |    round(CAST(sum(n_tokens) OVER () AS DOUBLE) * $MixBudgetShare
         |      / count(*) OVER (), 2) AS target_tokens FROM t),
         |r AS (SELECT *, round(least(1.0, target_tokens / n_tokens), 6)
         |    AS sample_rate FROM g)
         |SELECT source, n_tokens, target_tokens, sample_rate,
         |  round(sample_rate * n_tokens, 2) AS expected_tokens
         |FROM r""".stripMargin)
}
