package graft.engine

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines (north-star
  * extensions): exact, MinHash+LSH, SimHash, and n-gram Jaccard with
  * rare-shingle blocking.
  *
  * Portable hashing: builtin hash functions (xxhash64, DuckDB `hash`)
  * differ per engine, which would make the DuckDB oracle unverifiable, and
  * a dense-id dictionary (row_number over sorted distinct shingles) funnels
  * the whole vocabulary through ONE task — the classic 100 TB killer. Token
  * ids here are therefore a PORTABLE POLYNOMIAL STRING HASH over the
  * string's UTF-8 BYTES, `fold(acc = acc*31 + byte, mod 2^31-1)`
  * ([[portableIdUtf8]]), computed inline on both engines (Spark
  * `aggregate`/`transform` HOFs; DuckDB `list_reduce` deriving the same
  * bytes arithmetically from codepoints): pure map-side — no dictionary
  * join, no global sort, no broadcast — and bit-identical across engines
  * FOR ANY UNICODE INPUT (gated by `q_utf8_fingerprint` plus the planted
  * [[MultilingualDedupRows]] flowing through every dedup query), so LSH
  * candidate sets match exactly on multilingual corpora. The downstream
  * minhash/simhash mixing stays `(a*id + b) mod p` over these ids
  * (id < 2^31, a < 2^14: products stay in 64-bit range on both engines).
  * Id collisions (~n²/2^32: ≈16 expected over the 260k-shingle sf0.1
  * vocabulary) perturb a Jaccard estimate by <1% and are computed
  * identically on both sides.
  *
  * Scale design: candidate generation is always BLOCKED (LSH band buckets /
  * rare shingles / label partitions) so the pair space is output-sized, not
  * |docs|² — the only way near-dup detection survives a 5B-document corpus.
  * Verification joins pre-collected per-doc IDSET ARRAYS (one row per doc,
  * `array_intersect` for overlap) instead of re-exploding tokens, keeping
  * the verify join linear in candidate count.
  */
object Dedup {
  type Q = (SparkSession, String) => DataFrame

  /** MinHash parameters: 12 hash functions = 4 bands x 3 rows.
    * P(candidate | J) = 1-(1-J^3)^4: J=0.9 -> 0.995, J=0.05 -> 0.0005 —
    * matches the fixture's bimodal jaccard distribution (planted near-dups
    * at J>=0.9, background at J<=0.07).
    */
  val HashA: Seq[Long] =
    Seq(7L, 13L, 31L, 61L, 127L, 251L, 509L, 1021L, 2039L, 4093L, 8191L, 16381L)
  val HashB: Seq[Long] =
    Seq(3L, 17L, 29L, 97L, 131L, 191L, 313L, 457L, 613L, 787L, 907L, 1031L)
  val P = 1000003L
  val Bands = 4
  val Rows = 3
  val MinhashThreshold = 0.6
  val JaccardThreshold = 0.5
  val RareShingleMaxFreq = 5

  /** Modulus for [[portableId]]: 2^31-1 (Mersenne prime). Keeps ids small
    * enough that `id * HashA.max` stays far inside 64-bit range.
    */
  val IdMod = 2147483647L

  /** ASCII-scoped polynomial string hash (`acc*31 + char, mod IdMod`),
    * identical on Spark and DuckDB (`list_reduce` twin in [[idSql]]) FOR
    * NON-EMPTY ASCII INPUT ONLY. Outside that scope the engines diverge:
    * Spark `ascii('')`=0 vs DuckDB `unicode('')`=-1, and for non-ASCII
    * text Spark `ascii` returns the first (signed) UTF-8 byte while
    * DuckDB `unicode` returns the codepoint. RETAINED as the documented
    * ASCII fast path and PropertySpec's equivalence surface (utf8 id ==
    * ascii id on ASCII input); the dedup family's DEFAULT id is
    * [[portableIdUtf8]], which is portable for any Unicode input.
    */
  private[graft] def portableId(s: Column): Column =
    aggregate(
      transform(split(s, ""), c => ascii(c).cast("long")),
      lit(0L),
      (acc, x) => (acc * 31 + x) % IdMod)

  /** DuckDB twin of [[portableId]], applied to SQL expression `e`. */
  private def idSql(e: String): String =
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), " +
      s"list_transform(string_split($e, ''), c -> CAST(unicode(c) AS BIGINT))), " +
      s"(acc, x) -> (acc * 31 + x) % $IdMod)"

  /** UTF-8-BYTE portable id — the multilingual escape hatch the
    * [[portableId]] note prescribes: fold `acc*31 + byte (mod IdMod)` over
    * the string's UTF-8 bytes, which are engine-independent where
    * codepoint/char-unit semantics are not. The byte stream comes from
    * `hex(encode(s,'UTF-8'))` split into pairs — deliberately NOT a
    * per-character walk, because Spark's `split(s,'')` yields UTF-16 code
    * units and an astral-plane character (emoji) would surface as two
    * surrogates that encode to replacement bytes. Agrees with
    * [[portableId]] on non-empty ASCII input, where UTF-8 bytes and
    * codepoints coincide (property-tested); empty input folds to 0 on
    * both engines.
    */
  private[graft] def portableIdUtf8(s: Column): Column =
    graft.functions.StringFunctions.utf8_poly_id(s, IdMod)

  /** The composed-builtin form [[portableIdUtf8]] replaced (kept as the
    * cross-implementation reference: PropertySpec pins the native
    * expression equal to this fold on arbitrary Unicode input). It
    * materializes one two-char string per input byte and radix-parses
    * each — tens of allocations per shingle on the hottest path the
    * engine has; the native [[graft.functions.Utf8PolyId]] walks the
    * UTF8String bytes in place inside whole-stage codegen.
    */
  private[graft] def portableIdUtf8Reference(s: Column): Column =
    aggregate(
      transform(
        regexp_extract_all(hex(encode(s, "UTF-8")), lit("(..)"), lit(1)),
        p => conv(p, 16, 10).cast("long")),
      lit(0L),
      (acc, x) => (acc * 31 + x) % IdMod)

  /** DuckDB twin of [[portableIdUtf8]]: derives each codepoint's 1–4
    * UTF-8 bytes arithmetically (range CASE over `unicode(c)`) and folds
    * them in byte order. Deferring the mod to the end of each character
    * is sound: intermediate products stay ≤ IdMod·31⁴ + ~2^13 < 2^51,
    * far inside int64, and modular reduction commutes with the fold.
    */
  private[graft] def idUtf8Sql(e: String): String = {
    val m = IdMod
    val step =
      s"""(acc, x) -> CASE
         | WHEN x < 128 THEN (acc*31 + x) % $m
         | WHEN x < 2048 THEN
         |  ((acc*31 + 192 + x//64)*31 + 128 + x%64) % $m
         | WHEN x < 65536 THEN
         |  (((acc*31 + 224 + x//4096)*31 + 128 + (x//64)%64)*31
         |    + 128 + x%64) % $m
         | ELSE
         |  ((((acc*31 + 240 + x//262144)*31 + 128 + (x//4096)%64)*31
         |    + 128 + (x//64)%64)*31 + 128 + x%64) % $m END""".stripMargin
    // the c <> '' filter makes the fold total on EMPTY input: DuckDB
    // splits '' into [''] and unicode('') is -1, which would poison the
    // accumulator, while the engine side (Utf8PolyId over real UTF-8
    // bytes) folds an empty byte stream to 0; non-empty input never
    // yields an empty split element, so existing ids are unchanged
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), " +
      s"list_transform(list_filter(string_split($e, ''), c -> c <> ''), " +
      s"c -> CAST(unicode(c) AS BIGINT))), " +
      step + ")"
  }

  /** Non-ASCII rows planted into [[utf8Fingerprint]]: Latin-1 accents,
    * CJK, an astral-plane emoji (two UTF-16 surrogates — the case a
    * per-character Spark walk would corrupt), and Cyrillic. The oracle
    * VALUES clause is generated from these same literals, so both engines
    * are guaranteed to hash identical byte sequences.
    */
  private[graft] val Utf8PlantedRows: Seq[(Long, String)] = Seq(
    (900001L, "héllo wörld"),
    (900002L, "日本語のテキスト"),
    (900003L, "emoji 🚀 mix"),
    (900004L, "кириллица текст"))

  /** UTF-8 portable-fingerprint gate: [[portableIdUtf8]] proven engine-
    * portable end to end — the (ASCII) fixture corpus plus the planted
    * non-ASCII rows, fingerprinted on Spark and re-derived byte-for-byte
    * by the DuckDB oracle. The ASCII rows double as the in-query
    * ASCII-equivalence surface (PropertySpec asserts utf8 id == ascii id
    * there).
    */
  def utf8Fingerprint(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val planted = Utf8PlantedRows.toDF("doc_id", "text")
    Tables.documents(spark, dir).select(col("doc_id"), col("text"))
      .unionByName(planted)
      .select(col("doc_id"), portableIdUtf8(col("text")).as("utf8_fp"))
  }

  /** Shared unsegmented prefix of the planted CJK near-dup pair: 52
    * codepoints, no whitespace. With the differing 2-codepoint suffix the
    * v2 codepoint-3-gram Jaccard is ≈0.9 — inside the planted-near-dup
    * band the minhash parameters are tuned for.
    */
  private[graft] val CjkNearDupBase: String =
    "機械学習の大規模データ処理は分散計算基盤の上で実行されるが巨大な文書集合の重複検出には帯域分割された署名索引が不可欠であり"

  /** Non-ASCII rows planted into the dedup family's document source
    * ([[dedupDocs]]): a multilingual NEAR-DUP pair (910001/910002 — same
    * 28-token accented/CJK/emoji/Cyrillic prefix, different last token →
    * 3-gram Jaccard 26/28 ≈ 0.93) plus one unrelated multilingual doc.
    * Every shingle/token id the pair produces exercises the 2–4-byte
    * UTF-8 paths of [[portableIdUtf8]]/[[idUtf8Sql]] end to end through
    * minhash → verify → clusters, so the engine/oracle id contract is
    * gated on multilingual text in every dedup query, not just the
    * dedicated fingerprint query.
    */
  private[graft] val MultilingualDedupRows: Seq[(Long, String)] = {
    val base = "zürich café naïve résumé touché crème brûlée déjà vu piñata " +
      "日本語 テキスト 解析 変換 処理 データ 🚀 ロケット 発射 準備 " +
      "кириллица текст пример слово данные поток система анализ"
    Seq(
      (910001L, base + " конец"),
      (910002L, base + " финал"),
      (910003L, "véritablement autre document 完全に異なる内容 другой текст совсем 😀 ici"),
      // UNSEGMENTED CJK near-dup pair for the v2 shingle grid
      // ([[ShingleGridVersion]]): no whitespace anywhere — under the v1
      // grid each doc is ONE token (no 3-grams, invisible to LSH); under
      // v2 the per-codepoint segmentation makes them codepoint-3-gram
      // near-dups. 910005 additionally spells its voiced kana DECOMPOSED
      // (base char + U+3099) — byte-distinct from 910004's prefix until
      // the grid's NFC pass folds them, so the pair gates NFC +
      // segmentation together end to end through minhash → verify.
      (910004L, CjkNearDupBase + "定期的な再構築処理で終了"),
      // decomposed voiced kana: \u304c -> \u304b+\u3099, \u3067 -> \u3066+\u3099
      (910005L, CjkNearDupBase
        .replace("が", "が").replace("で", "で")
        + "定期的な再構築処理で完了"))
  }


  /** The dedup family's document source: fixture corpus plus the planted
    * multilingual rows. The oracle mirror is [[docsCte]], whose VALUES
    * clause is generated from the same literals.
    */
  private[graft] def dedupDocs(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir).select(col("doc_id"), col("text"))
      .unionByName(MultilingualDedupRows.toDF("doc_id", "text"))
  }

  /** Exact dedup: group by full content, keep the minimum id (the standard
    * hash-groupBy exact pass run before any fuzzy matching).
    */
  def dedupExact(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy("text")
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .select("keep_id", "n_copies")

  /** Shingle-grid FORMAT VERSION. The shingle vocabulary is a
    * FINGERPRINT definition: every persisted band index, incremental
    * probe, and oracle replays the same byte stream, so the token grid
    * can never change silently — it changes by bumping this version,
    * which re-keys the [[shingleIds]] memo and renames the persisted
    * [[corpusBandIndex]] table, forcing an explicit rebuild (the
    * [[indexForget]]-style maintenance machinery; an old-version index is
    * simply never read). Versions:
    *   - v1 — whitespace split (the original grid; blind to unsegmented
    *     CJK, which is a single token and yields no 3-grams),
    *   - v2 (CURRENT) — NFC normalization + script-aware
    *     [[TextOps.segmentTokens]]: Latin text tokenizes exactly as v1
    *     (minus empty tokens from doubled spaces), CJK becomes
    *     per-codepoint tokens, so unsegmented CJK near-dups are
    *     codepoint-3-gram near-dups and composed/decomposed spellings
    *     fingerprint identically.
    * The v1 path is kept callable ([[shingleTokens]]) for the
    * index-version compatibility test.
    */
  val ShingleGridVersion = 2

  /** The token grid per index version (see [[ShingleGridVersion]]). */
  private[graft] def shingleTokens(version: Int): Column = version match {
    case 1 => split(col("text"), " ")
    case 2 => TextOps.segmentTokens(
      graft.functions.StringFunctions.nfc_normalize(col("text")))
    case v => throw new IllegalArgumentException(s"unknown shingle grid v$v")
  }

  /** doc_id -> distinct 3-gram shingle rows under the given grid version.
    *
    * Implemented as three shifted `slice`s zipped back together rather than
    * `transform(sequence(...), i -> element_at(...))` — the indexed-HOF
    * form re-walks the array per position and measured ~8x slower at sf0.1
    * (4.4s vs 0.6s for 260k shingles). Docs under 3 tokens yield empty
    * slices, hence no shingles — no guard needed.
    */
  private def shingles(spark: SparkSession, dir: String,
      version: Int = ShingleGridVersion): DataFrame = {
    val t = shingleTokens(version)
    val len3 = greatest(size(t) - lit(2), lit(0))
    val grams = zip_with(
      slice(t, lit(1), len3),
      arrays_zip(slice(t, lit(2), len3), slice(t, lit(3), len3)),
      (a, bc) => concat_ws(" ", a, bc.getField("0"), bc.getField("1")))
    dedupDocs(spark, dir).select(
      col("doc_id"), explode(array_distinct(grams)).as("shingle"))
  }

  /** (doc_id, sid) via [[portableIdUtf8]] — a pure map-side projection: no
    * dictionary join, no global sort, nothing that narrows to one task at
    * any corpus size.
    *
    * CACHED + MEMOIZED per (session, dir) via [[SessionMemo]] (evicted on
    * session end): every LSH query consumes this table from 3–5 plan
    * branches (signatures, candidate join sides, verification sets);
    * without materialization Spark re-runs the scan+shingle+hash subtree
    * per branch. The memo hands the SAME cached DataFrame to re-entrant
    * callers (minhash → clusters; minhash → ngram in one bench session),
    * so the session cache manager is asked to cache each plan exactly
    * once. A production pipeline would persist the tokenized table
    * instead.
    */
  private def shingleIds(spark: SparkSession, dir: String): DataFrame =
    shingleIdsAt(spark, dir, ShingleGridVersion)

  /** Version-keyed variant (memo key carries the grid version, so two
    * grids never alias one cached table — the compat test reads v1 and
    * v2 side by side).
    */
  private[graft] def shingleIdsAt(spark: SparkSession, dir: String,
      version: Int): DataFrame =
    SessionMemo.getOrComputeCleanup(spark,
        s"dedup.shingleIds:v$version:$dir") {
      // r21 (guide §5): serialized storage + eviction unpersist —
      // session-long cache, minimal heap held
      shingles(spark, dir, version)
        .select(col("doc_id"), portableIdUtf8(col("shingle")).as("sid"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    }(df => scala.util.Try(df.unpersist()): Unit)

  /** Per-doc shingle-id set + size, for array-based exact verification. */
  private def idSets(ds: DataFrame): DataFrame =
    ds.groupBy("doc_id")
      .agg(collect_set(col("sid")).as("sids"), count(lit(1)).as("n"))

  /** Exact-jaccard verification of candidate pairs via set arrays. */
  private def verifyPairs(cand: DataFrame, sets: DataFrame,
      threshold: Double): DataFrame =
    verifyPairsFull(cand, sets, threshold)
      .select("doc_a", "doc_b", "jaccard")

  /** [[verifyPairs]] keeping the exact integer intersection/union sizes
    * — the threshold sweep re-derives its keep decisions from (ni, un)
    * with pure rational arithmetic instead of re-running the verify
    * pass (the memoized full table makes the sweep pair-rollup-sized).
    */
  private def verifyPairsFull(cand: DataFrame, sets: DataFrame,
      threshold: Double): DataFrame = {
    val sa = sets.select(col("doc_id").as("doc_a"), col("sids").as("sa"),
      col("n").as("na"))
    val sb = sets.select(col("doc_id").as("doc_b"), col("sids").as("sb"),
      col("n").as("nb"))
    val ni = size(array_intersect(col("sa"), col("sb"))).cast("long")
    val j = ni.cast("double") / (col("na") + col("nb") - ni)
    cand.join(sa, Seq("doc_a")).join(sb, Seq("doc_b"))
      .withColumn("ni", ni)
      .withColumn("un", (col("na") + col("nb") - col("ni")).cast("long"))
      .withColumn("jaccard",
        round(col("ni").cast("double") / col("un"), 6))
      .filter(col("ni").cast("double") / col("un") >= threshold)
      .select("doc_a", "doc_b", "jaccard", "ni", "un")
  }

  /** MinHash + LSH near-dup pairs: signature -> band buckets -> bucket
    * equi-join -> exact jaccard confirm. The bucket join only materializes
    * colliding pairs; band keys are strings of 3 minhashes, so bucket
    * cardinality stays near 1 for non-dup docs.
    */
  def dedupMinhash(spark: SparkSession, dir: String): DataFrame =
    // a plain projection of the memoized+cached full pair table — no
    // second cache needed
    dedupMinhashPairs(spark, dir)

  /** Sweep points for [[dedupSensitivity]], as integer percent so the
    * per-threshold keep decision is the exact rational comparison
    * `ni·100 ≥ pct·union` (no float jaccard anywhere). All points sit
    * AT or ABOVE the banding design threshold ([[MinhashThreshold]]):
    * the LSH candidate generation is calibrated for 0.6, so every pair
    * with true jaccard ≥ 0.6 that banding surfaces is in the swept set,
    * and tightening the threshold only FILTERS that set — sweeping
    * below 0.6 would need re-banding (more rows per band) to keep
    * recall, which is a different index, not a different query.
    */
  val SweepThresholds: Seq[Int] = Seq(60, 70, 80, 90, 95)

  /** Dedup threshold-sensitivity report — the tuning table an operator
    * reads before committing a near-dup threshold to a corpus: for each
    * candidate threshold, how many verified pairs survive and how many
    * documents are implicated. ONE candidate-generation + verification
    * pass (the expensive part: shingles → signatures → banding → exact
    * intersections) feeds every threshold; the sweep itself is a
    * 5-way explode over the dup-sized verified-pair table followed by
    * two group-counts on the 5-row threshold dimension. Re-running the
    * full dedup per threshold — the naive alternative — would pay the
    * corpus-scale pipeline k times for identical candidates.
    */
  def dedupSensitivity(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // Ride the memoized verified-pair table ([[dedupMinhashFull]])
    // instead of re-running candidates+verify: every sweep point sits
    // AT or ABOVE the banding threshold, and the ≥0.6 double filter is
    // exact for the sweep's rationals (ni·100 ≥ 60·un ⟺ ni/un ≥ 0.6;
    // a double quotient cannot cross the literal-0.6 boundary below
    // un ~ 1/ulp). The r14 materialized-cost gate caught the recompute
    // at 8.6x — this is the fix's second half (the first removed the
    // explode×5 re-intersect).
    val pairs = dedupMinhashFull(spark, dir)
      .select(col("doc_a"), col("doc_b"), col("ni"), col("un"))
    // Sweep via MAX-PASSING-BUCKET + cumulative rollup, not explode×5 +
    // per-threshold recount: the explode form re-evaluated the per-pair
    // array_intersect once per threshold row (project collapse pushes
    // the intersect past the explode; lambda-bearing HOFs are excluded
    // from codegen CSE) and re-counted distinct docs per threshold —
    // the round-14 materialized-cost gate caught it at 8.7x over the
    // count-mode reading. A pair passing threshold t passes every lower
    // one (the sweep is monotone), so each pair contributes ONE row
    // keyed by the max threshold it passes, and n_pairs(t) / n_dup_docs
    // (t) are suffix sums over 5 bucket rows — one intersect per pair,
    // dup-sized exchanges, identical output.
    val maxBucket = SweepThresholds.sorted.foldLeft(lit(null)
        .cast("int")) { (acc, t) =>
      when(col("ni") * 100 >= lit(t) * col("un"), lit(t)).otherwise(acc)
    }
    val pairBuckets = pairs
      .select(col("doc_a"), col("doc_b"), maxBucket.as("bt"))
      .filter(col("bt").isNotNull)
    val dim = SweepThresholds.toDF("threshold_pct")
    val pairCnt = pairBuckets.groupBy("bt").agg(count(lit(1)).as("p"))
    val nPairs = dim.join(pairCnt, col("bt") >= col("threshold_pct"),
        "left")
      .groupBy("threshold_pct")
      .agg(coalesce(sum(col("p")), lit(0L)).as("p"))
    // a doc is dup at t iff its BEST pair passes t: per-doc max bucket,
    // then the same suffix rollup (keeps zero-pair thresholds visible)
    val docCnt = pairBuckets
      .select(explode(array(col("doc_a"), col("doc_b"))).as("d"),
        col("bt"))
      .groupBy("d").agg(max(col("bt")).as("bt"))
      .groupBy("bt").agg(count(lit(1)).as("g"))
    val nDocs = dim.join(docCnt, col("bt") >= col("threshold_pct"),
        "left")
      .groupBy("threshold_pct")
      .agg(coalesce(sum(col("g")), lit(0L)).as("g"))
    dim
      .join(nPairs, Seq("threshold_pct"), "left")
      .join(nDocs, Seq("threshold_pct"), "left")
      .select(col("threshold_pct").cast("long").as("threshold_pct"),
        coalesce(col("p"), lit(0L)).as("n_pairs"),
        coalesce(col("g"), lit(0L)).as("n_dup_docs"))
  }

  /** Source-pair duplication matrix — WHO copies WHOM: the verified
    * near-dup pairs rolled up by unordered source pair, with pair count,
    * implicated-document count, and the mean verified jaccard (exact
    * integer micro-sum divided once). The diagonal (src_a = src_b) is
    * within-source duplication (template churn); heavy OFF-diagonal
    * cells are mirror/syndication relationships — the signal a curation
    * pipeline uses to drop a whole mirrored domain instead of paying
    * per-document dedup on it forever. Rides the memoized minhash
    * verified pairs (dup-sized); the two source lookups are doc_id
    * equi-joins against the corpus projection, and the rollup output is
    * at most sources² rows.
    */
  def dupSourceMatrix(spark: SparkSession, dir: String): DataFrame = {
    // LEFT joins + the 'planted' fallback: the dedup corpus carries the
    // planted multilingual rows, which have no documents-table source —
    // an inner join would silently drop their pairs and break the
    // pair-mass conservation law the spec pins
    val srcs = Tables.documents(spark, dir).select("doc_id", "source")
    val pairs = dedupMinhash(spark, dir)
      .join(srcs.toDF("doc_a", "sa"), Seq("doc_a"), "left")
      .join(srcs.toDF("doc_b", "sb"), Seq("doc_b"), "left")
      .withColumn("sa", coalesce(col("sa"), lit("planted")))
      .withColumn("sb", coalesce(col("sb"), lit("planted")))
      .select(
        least(col("sa"), col("sb")).as("src_a"),
        greatest(col("sa"), col("sb")).as("src_b"),
        col("doc_a"), col("doc_b"),
        round(col("jaccard") * 1000000L).cast("long").as("j_micro"))
    val docs = pairs
      .select(col("src_a"), col("src_b"),
        explode(array(col("doc_a"), col("doc_b"))).as("d"))
      .groupBy("src_a", "src_b")
      .agg(countDistinct(col("d")).as("n_docs"))
    pairs.groupBy("src_a", "src_b")
      .agg(count(lit(1)).as("n_pairs"),
        round(sum(col("j_micro")).cast("double") /
          (count(lit(1)) * 1000000L), 6).as("mean_jaccard"))
      .join(docs, Seq("src_a", "src_b"))
      .select("src_a", "src_b", "n_pairs", "n_docs", "mean_jaccard")
  }

  /** Degenerate-band-bucket guard: a bucket of k docs sharing a band key
    * yields k²/2 candidate pairs in ONE join task, and documents with
    * identical shingle SETS (exact dups, but also reordered sentences or
    * whitespace variants) share EVERY band key — web corpora always carry
    * such blocks. The guard has four parts, all mirrored in the DuckDB
    * oracle CTEs so the candidate sets stay bit-identical across engines:
    *  1. buckets larger than this cap are excluded from the pairwise join
    *     (their rows are counted in the `lsh_bucket_guard` observed
    *     metric), keeping every join task's work bounded by cap²/2;
    *  2. docs sharing a FULL [[Bands]]×[[Rows]]-hash signature are linked
    *     star-wise to their group's min doc_id — O(k) pairs per group —
    *     so identical-signature blocks survive the cap with LINEAR
    *     candidate volume instead of vanishing from the output;
    *  3. every oversize bucket also star-links its members to the BUCKET
    *     min — O(k) candidates that exact-jaccard verification then
    *     confirms or rejects — so a >cap near-dup block with DIFFERING
    *     signatures stays connected (clustering unifies it through the
    *     verified star edges);
    *  4. oversize-bucket rows are re-keyed by a SECOND hash family — the
    *     doc's NEXT band key, 3 more independent minhashes — and
    *     sub-buckets that fall back under the cap get the full pairwise
    *     join, recovering direct pairs inside giant buckets at bounded
    *     cap²/2 task cost.
    * Residual recall hole, now narrow: inside an oversize bucket, a pair
    * whose jaccard-to-bucket-min is below threshold AND whose secondary
    * sub-bucket also exceeds the cap contributes no direct edge (its
    * members still link via any other sub-cap bucket, the signature
    * fallback, or transitively through verified star edges in
    * clustering). At cap 64 that requires 64+ docs agreeing on SIX
    * minhashes while differing in signature — content
    * [[dedupExact]]/the fallbacks own in practice.
    */
  val LshBucketCap = 64

  /** Uncached minhash pipeline body; the public entry memoizes the result
    * (dup-sized, tiny) because BOTH `q_dedup_minhash` and
    * `q_dedup_clusters` consume it in one session — without the memo the
    * clustering query re-runs the whole signature/band/verify pipeline.
    */
  private def dedupMinhashPairs(spark: SparkSession, dir: String): DataFrame =
    dedupMinhashFull(spark, dir).select("doc_a", "doc_b", "jaccard")

  /** The memoized verified-pair table WITH exact (ni, un) — shared by
    * the minhash consumers (3-column projection) and the threshold
    * sweep (which re-decides keeps from the integers, never re-running
    * the verify pass).
    */
  private def dedupMinhashFull(spark: SparkSession, dir: String): DataFrame =
    SessionMemo.getOrComputeCleanup(spark,
        s"dedup.minhashPairsFull:$dir") {
      val ds = shingleIds(spark, dir)
      verifyPairsFull(lshCandidates(spark, dir), idSets(ds),
        MinhashThreshold)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    }(df => scala.util.Try(df.unpersist()): Unit)

  /** 12-hash minhash signature per doc — one aggregation pass over the
    * memoized shingle-id table, shared by the full LSH pass and the
    * incremental (delta-vs-corpus) probe.
    */
  private def signatures(spark: SparkSession, dir: String): DataFrame = {
    val ds = shingleIds(spark, dir)
    val sigCols = HashA.zip(HashB).zipWithIndex.map { case ((a, b), i) =>
      min((col("sid") * a + b) % P).as(s"h$i")
    }
    ds.groupBy("doc_id").agg(sigCols.head, sigCols.tail: _*)
  }

  /** Stacked band rows (doc_id, band, bkey, bkey2). Each row carries its
    * band key AND the doc's NEXT band key (the oversize guard's second
    * hash family) — a constant-width column that rides along from the
    * start instead of a doc_id-keyed join back against the band table
    * later.
    */
  private def bandRows(sig: DataFrame): DataFrame = {
    val bandCols = (0 until Bands).map { bnd =>
      val ks = (0 until Rows).map(r => col(s"h${bnd * Rows + r}"))
      concat_ws(":", ks: _*).as(s"band$bnd")
    }
    val stackArgs = (0 until Bands)
      .map(bnd => s"$bnd, band$bnd, band${(bnd + 1) % Bands}").mkString(", ")
    sig.select(col("doc_id") +: bandCols: _*)
      .selectExpr("doc_id", s"stack($Bands, $stackArgs) AS (band, bkey, bkey2)")
  }

  /** LSH candidate pairs (pre-verification), bucket-capped; exposed for
    * the linear-candidate-count guard test. `cap` is parameterized ONLY so
    * tests can trigger the oversize paths on small fixtures; production
    * callers always use [[LshBucketCap]] (the oracle mirrors that value).
    */
  private[graft] def lshCandidates(spark: SparkSession, dir: String,
      cap: Int = LshBucketCap): DataFrame = {
    val sig = signatures(spark, dir)
    val bands = bandRows(sig)
    // bucket sizes ride the same (band, bkey) partitioning the self-join
    // shuffles on — the guard adds no extra exchange, and the skipped
    // volume is observable without a separate job
    val guarded = bands
      .withColumn("bsize",
        count(lit(1)).over(Window.partitionBy(col("band"), col("bkey"))))
      .observe("lsh_bucket_guard",
        sum(when(col("bsize") > cap, 1L).otherwise(0L))
          .as("rows_in_oversize_buckets"))
      .filter(col("bsize") <= cap)
      .drop("bsize", "bkey2")
    val bucketPairs = guarded.as("x").join(guarded.as("y"),
        col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
    // full-signature star fallback (guard part 2): groups whose 12-hash
    // signature is identical link each member to the group min — linear in
    // group size, shuffles only the doc-count-sized signature table. For
    // sub-cap groups these pairs are a subset of the bucket join's, so the
    // union changes nothing there; for oversize groups they are the only
    // guaranteed candidates
    val sigKey = (0 until Bands * Rows).map(i => col(s"h$i"))
    val fallback = sig
      .withColumn("m", min(col("doc_id")).over(Window.partitionBy(sigKey: _*)))
      .filter(col("doc_id") =!= col("m"))
      .select(col("m").as("doc_a"), col("doc_id").as("doc_b"))
    // oversize buckets (guard parts 3+4): star-link to the bucket min
    // (linear connectivity), and re-key by the second band family —
    // sub-buckets back under the cap get the full pairwise join. Both
    // windows and the sub-join cluster on (band, bkey[, bkey2]) prefixes,
    // so they ride the same hash partitioning as the bucket-size window.
    val oversize = bands
      .withColumn("bsize",
        count(lit(1)).over(Window.partitionBy(col("band"), col("bkey"))))
      .filter(col("bsize") > cap)
      .drop("bsize")
    val star = oversize
      .withColumn("bmin",
        min(col("doc_id")).over(Window.partitionBy(col("band"), col("bkey"))))
      .filter(col("doc_id") =!= col("bmin"))
      .select(col("bmin").as("doc_a"), col("doc_id").as("doc_b"))
    val sub = oversize
      .withColumn("s2", count(lit(1)).over(
        Window.partitionBy(col("band"), col("bkey"), col("bkey2"))))
      .filter(col("s2") <= cap)
      .drop("s2")
    val subPairs = sub.as("x").join(sub.as("y"),
        col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey") &&
          col("x.bkey2") === col("y.bkey2") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
    bucketPairs.union(fallback).union(star).union(subPairs).distinct()
  }

  /** "Today's batch" slice for the incremental pass: doc_id % 11 == 0
    * stands in for the ingest timestamp predicate a production pipeline
    * would use (the fixture carries no ingest date; the plan shape is
    * identical). The corpus filter is written `% 11 > 0` (not `<> 0`) so
    * the two sides carry DISTINCT predicate strings the plan gate can
    * tell apart.
    */
  val IncrementalDeltaMod = 11L

  /** Incremental (delta-vs-corpus) dedup — the shape a production ingest
    * actually runs: today's batch probes the EXISTING corpus band index
    * instead of rebuilding a corpus-vs-corpus pass. The corpus side is
    * NEVER self-joined (plan-gated in PlanSpec): the only (band, bkey)
    * joins are delta×corpus, so the per-run cost is delta-sized — at
    * 100 TB the corpus band table is a persisted index (bucketed by band
    * key) and this query is the probe that runs per ingest batch.
    *
    * Guard (mirrored in the oracle CTEs): corpus buckets over
    * [[LshBucketCap]] are excluded from the pairwise probe — each delta
    * row's join work is bounded by cap — and instead STAR-LINK each delta
    * row to the oversize bucket's min corpus doc (one candidate per band,
    * linear), which exact-jaccard verification then confirms or rejects.
    * Dup detection INSIDE the batch (delta-vs-delta) is deliberately out
    * of scope: that is the existing corpus-vs-itself pass run at batch
    * grain ([[dedupMinhash]] over the delta alone).
    */
  def dedupIncremental(spark: SparkSession, dir: String): DataFrame = {
    val bands = bandRows(signatures(spark, dir)).drop("bkey2")
    val delta = bands.filter(col("doc_id") % IncrementalDeltaMod === 0)
      .select(col("band"), col("bkey"), col("doc_id").as("doc_a"))
    val corpus = bands.filter(col("doc_id") % IncrementalDeltaMod > 0)
      .withColumn("bsize",
        count(lit(1)).over(Window.partitionBy(col("band"), col("bkey"))))
    val small = corpus.filter(col("bsize") <= LshBucketCap)
      .select(col("band"), col("bkey"), col("doc_id").as("doc_b"))
    val pairwise = delta.join(small, Seq("band", "bkey"))
      .select("doc_a", "doc_b")
    val oversizeMin = corpus.filter(col("bsize") > LshBucketCap)
      .groupBy("band", "bkey").agg(min(col("doc_id")).as("doc_b"))
    val star = delta.join(oversizeMin, Seq("band", "bkey"))
      .select("doc_a", "doc_b")
    val cand = pairwise.union(star).distinct()
    verifyPairs(cand, idSets(shingleIds(spark, dir)), MinhashThreshold)
      .select(col("doc_a").as("doc_new"), col("doc_b").as("doc_corpus"),
        col("jaccard"))
  }

  /** Bucket count for the persisted corpus band index. Sized for the
    * fixture; a 100 TB corpus picks thousands (one bucket ≈ one HDFS-block
    * of band rows) — the probe plan shape below is bucket-count-invariant.
    */
  private[graft] val CorpusIndexBuckets = 8

  /** Persisted corpus band INDEX — the artifact a production ingest keeps
    * BETWEEN batches so each delta probe pays delta-sized work only. The
    * oversize guard is folded into the index at BUILD time: sub-cap
    * buckets keep their member rows, buckets over [[LshBucketCap]]
    * collapse to ONE star row (the bucket-min doc), so the index is
    * bounded at cap rows per (band, bkey) and the probe needs no window
    * at read time. Written `bucketBy(band, bkey)` + `saveAsTable`: a
    * probe join on (band, bkey) reads the index co-located — NO Exchange
    * on the corpus side (plan-gated in PlanSpec), only the delta side
    * shuffles, and Spark prunes unneeded buckets. Memoized per
    * (session, dir): built once, probed every batch.
    */
  private final case class BandIndex(table: String, path: String)

  private def corpusBandIndex(spark: SparkSession, dir: String): String =
    SessionMemo.getOrComputeCleanup(spark,
        s"dedup.corpusBandIndex:v$ShingleGridVersion:$dir") {
      // the grid version is part of the PERSISTED table name: an index
      // built under an older grid is never read by a newer engine — the
      // migration is an explicit rebuild, not a silent mixed-grid probe
      val table = s"graft_corpus_band_index_v${ShingleGridVersion}_" +
        s"${math.abs(dir.hashCode.toLong)}"
      val bands = bandRows(signatures(spark, dir)).drop("bkey2")
      val corpus = bands.filter(col("doc_id") % IncrementalDeltaMod > 0)
        .withColumn("bsize",
          count(lit(1)).over(Window.partitionBy(col("band"), col("bkey"))))
      val rows = corpus.filter(col("bsize") <= LshBucketCap)
        .select(col("band"), col("bkey"), col("doc_id").as("doc_b"))
        .union(corpus.filter(col("bsize") > LshBucketCap)
          .groupBy("band", "bkey").agg(min(col("doc_id")).as("doc_b")))
      // registered for JVM-exit deletion; the cleanup below additionally
      // drops it (and the catalog name) as soon as the memo entry goes
      val path = TempArtifacts.tempDir(s"graft_band_index_$table")
      rows.write.bucketBy(CorpusIndexBuckets, "band", "bkey")
        .option("path", s"$path/$table").mode("overwrite")
        .saveAsTable(table)
      BandIndex(table, path)
    } { bi =>
      // Try: application-end eviction runs while the session stops, where
      // catalog calls may no longer be served — the dir delete below is
      // the part that must always happen
      scala.util.Try(
        spark.sql(s"DROP TABLE IF EXISTS ${bi.table}")): Unit
      TempArtifacts.delete(bi.path)
    }.table

  /** Delta-probe candidates against the persisted index: a plain
    * (band, bkey) equi-join — pairwise and star candidates fall out of
    * the index's row shape with no per-probe window. Exposed for the
    * no-corpus-side-exchange plan gate.
    */
  private[graft] def incrementalProbeCandidates(spark: SparkSession,
      dir: String, deltaMaxDocId: Option[Long] = None): DataFrame = {
    val idx = spark.table(corpusBandIndex(spark, dir))
    val delta = bandRows(signatures(spark, dir)).drop("bkey2")
      .filter(col("doc_id") % IncrementalDeltaMod === 0)
      // fixed-delta mode (ScaleBench probe-cost isolation): hold the
      // probe batch constant while the indexed corpus scales — the
      // doc_id cap selects the 1x copy's delta at every scale, and the
      // range predicate prunes at the parquet row-group level
      .filter(deltaMaxDocId.map(col("doc_id") < _).getOrElse(lit(true)))
      .select(col("band"), col("bkey"), col("doc_id").as("doc_a"))
    delta.join(idx, Seq("band", "bkey"))
      .select("doc_a", "doc_b").distinct()
  }

  /** [[dedupIncremental]] re-run through the persisted bucketed index —
    * bit-identical output (same oracle SQL), different physical shape:
    * the corpus side is a bucketed table scan instead of a recomputed
    * band table, so repeat batches never pay corpus-sized work.
    */
  def dedupIncrementalBucketed(spark: SparkSession, dir: String): DataFrame =
    verifyPairs(incrementalProbeCandidates(spark, dir),
        idSets(shingleIds(spark, dir)), MinhashThreshold)
      .select(col("doc_a").as("doc_new"), col("doc_b").as("doc_corpus"),
        col("jaccard"))

  /** Probe-cost isolation for ScaleBench: the bucketed-index probe with
    * the delta FROZEN to the 1x copy (doc_id < cap) while the indexed
    * corpus scales underneath it. Assumes the memoized index and shingle
    * table are already built (ScaleBench's cold pass pays them), so the
    * timed region is exactly what a production ingest pays per batch —
    * delta signature carve-out + bucket-pruned probe join + verify. A
    * near-flat 1x→10x time here is the evidence that the persisted
    * index makes repeat batches delta-sized, which the steady-state
    * `q_dedup_incremental_bucketed` row alone cannot show (its delta
    * grows with the corpus by construction).
    */
  private[graft] def probeFixedDelta(spark: SparkSession, dir: String,
      cap: Long): DataFrame =
    verifyPairs(incrementalProbeCandidates(spark, dir, Some(cap)),
        idSets(shingleIds(spark, dir)), MinhashThreshold)
      .select(col("doc_a").as("doc_new"), col("doc_b").as("doc_corpus"),
        col("jaccard"))

  /** Deletion-batch modulus for [[indexForget]]: corpus docs with
    * `doc_id % ForgetMod == 0` are the standing right-to-be-forgotten
    * batch (the deterministic analog of the deletion list
    * [[Curation.deletionAudit]] produces from PII detection). Chosen
    * coprime to [[IncrementalDeltaMod]] so the deleted slice cuts across
    * the index corpus rather than aliasing its delta carve-out.
    */
  val ForgetMod = 7L

  /** Right-to-be-forgotten propagation into the PERSISTED minhash band
    * index — the maintenance operation that connects the governance
    * family ([[Curation.deletionAudit]]) to the incremental-dedup family
    * ([[dedupIncrementalBucketed]]): when documents leave the corpus,
    * the standing index must forget them WITHOUT a full rebuild. The
    * patch rule: a bucket is DIRTY iff a deleted doc's own band rows
    * touch it (recomputed from the deleted docs' signatures — the only
    * authority; the index itself hides members behind oversize-collapsed
    * star rows). Clean-bucket rows pass through UNTOUCHED (their
    * membership is provably unchanged — any row referencing a deleted
    * doc sits in a bucket that doc's band rows mark dirty); dirty
    * buckets rebuild from the RETAINED members' band rows with the
    * build-time collapse re-applied at the new size — so a star bucket
    * that drops under [[LshBucketCap]] re-expands to member rows and a
    * bucket whose min doc was deleted re-keys its star correctly.
    *
    * The output row IS the correctness theorem: `fp_after` (the
    * [[SourceQueries.datasetManifest]]-style order-independent
    * sum-mod-prime over `band:bkey:doc_b`) and the row counts are
    * computed by the engine over the PATCH (clean ∪ rebuilt) while the
    * oracle computes them over a FULL REBUILD on the retained corpus —
    * the hash gate passing proves patch ≡ rebuild, bucket by bucket.
    *
    * 100 TB shape: the deleted docs' signature/band recompute is
    * deletion-batch-sized; `dirty` is batch×[[Bands]] keys, so the
    * semi/anti joins broadcast it by size (degrading gracefully to
    * shuffle for a giant purge); the clean side is ONE pass over the
    * persisted index with no corpus recompute; the rebuild side's band
    * recompute prunes to dirty buckets via the semi join. A production
    * deployment pairs this plan with a bucket-pruned physical rewrite of
    * only the dirty index files (the
    * [[graft.streaming.StreamingQueries]] upsert's touched-partition
    * pattern); the query keeps the rewrite logical so the equality proof
    * stays engine-checkable.
    */
  def indexForget(spark: SparkSession, dir: String): DataFrame = {
    val idx = spark.table(corpusBandIndex(spark, dir))
    val corpus = bandRows(signatures(spark, dir)).drop("bkey2")
      .filter(col("doc_id") % IncrementalDeltaMod > 0)
    val delBands = corpus.filter(col("doc_id") % ForgetMod === 0)
    val dirty = delBands.select("band", "bkey").distinct()
    val hv = graft.functions.StringFunctions.utf8_poly_id(
      concat(col("band").cast("string"), lit(":"), col("bkey"),
        lit(":"), col("doc_b").cast("string")), IdMod)
    val patchedAgg = forgetPatchedRows(spark, dir).agg(
      sum(when(col("is_clean"), 1L).otherwise(0L)).as("n_clean_rows"),
      sum(when(!col("is_clean"), 1L).otherwise(0L)).as("n_rebuilt_rows"),
      count(lit(1)).as("n_rows_after"),
      (sum(hv.cast("decimal(38,0)")) % IdMod).cast("long").as("fp_after"))
    idx.agg(count(lit(1)).as("n_rows_before"))
      .crossJoin(broadcast(delBands.select("doc_id").distinct()
        .agg(count(lit(1)).as("n_deleted_docs"))))
      .crossJoin(broadcast(dirty.agg(count(lit(1))
        .as("n_dirty_buckets"))))
      .crossJoin(broadcast(patchedAgg))
  }

  /** The patched index rows [[indexForget]] aggregates — exposed so the
    * spec can assert the patch's structural invariants (no deleted doc
    * survives; clean and rebuilt rows partition by dirty-bucket
    * membership; the patch equals a direct rebuild row-for-row).
    */
  private[graft] def forgetPatchedRows(spark: SparkSession,
      dir: String): DataFrame =
    forgetPatch(
      spark.table(corpusBandIndex(spark, dir)),
      bandRows(signatures(spark, dir)).drop("bkey2")
        .filter(col("doc_id") % IncrementalDeltaMod > 0),
      ForgetMod, LshBucketCap)

  /** The patch core, parameterized over the index rows, the corpus band
    * rows, the deletion predicate modulus, and the collapse cap — cap is
    * a parameter ONLY so the spec can exercise the star-collapse and
    * re-expansion paths on synthetic buckets; production callers always
    * use [[LshBucketCap]] (the oracle mirrors that value).
    */
  private[graft] def forgetPatch(idx: DataFrame, corpus: DataFrame,
      forgetMod: Long, cap: Int): DataFrame = {
    val dirty = corpus.filter(col("doc_id") % forgetMod === 0)
      .select("band", "bkey").distinct()
    val clean = idx.join(dirty, Seq("band", "bkey"), "left_anti")
      .select(col("band"), col("bkey"), col("doc_b"),
        lit(true).as("is_clean"))
    val retained = corpus.filter(col("doc_id") % forgetMod =!= 0)
      .join(dirty, Seq("band", "bkey"), "left_semi")
      .withColumn("bsize",
        count(lit(1)).over(Window.partitionBy(col("band"), col("bkey"))))
    val rebuilt = retained.filter(col("bsize") <= cap)
      .select(col("band"), col("bkey"), col("doc_id").as("doc_b"))
      .union(retained.filter(col("bsize") > cap)
        .groupBy("band", "bkey").agg(min(col("doc_id")).as("doc_b")))
      .select(col("band"), col("bkey"), col("doc_b"),
        lit(false).as("is_clean"))
    clean.union(rebuilt)
  }

  /** n-gram Jaccard near-dup with rare-shingle blocking: candidates are
    * pairs sharing at least one shingle with global frequency <=
    * [[RareShingleMaxFreq]] (near-identical docs always share their rare
    * shingles; frequent shingles would generate quadratic candidates).
    */
  def dedupNgramJaccard(spark: SparkSession, dir: String): DataFrame = {
    val ds = shingleIds(spark, dir)
    val rare = ds.groupBy("sid").agg(count(lit(1)).as("freq"))
      .filter(col("freq") <= RareShingleMaxFreq)
      .select("sid")
    val rds = ds.join(broadcast(rare), Seq("sid"))
    val cand = rds.as("x").join(rds.as("y"),
        col("x.sid") === col("y.sid") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    verifyPairs(cand, idSets(ds), JaccardThreshold)
  }

  /** LSH recall canary — the dedup-family analog of
    * [[graft.engine.Similarity.annRecall]]: the banded minhash pass
    * audited against the exact rare-shingle-blocked pass at the SAME
    * threshold ([[MinhashThreshold]], applied to the identically-rounded
    * jaccard both sides emit). One full outer join of two dup-sized
    * pair sets into a single accounting row: each side's total, the
    * agreement, the recall ratio, and BOTH miss directions — pairs the
    * banding dropped (probability-of-collision misses) and pairs the
    * rare-shingle blocking dropped (a ≥0.6 pair sharing only common
    * shingles never becomes an exact-side candidate). Neither reference
    * is free of blind spots, which is exactly why the canary prices
    * them against each other instead of trusting either.
    */
  def lshRecall(spark: SparkSession, dir: String): DataFrame = {
    val exact = dedupNgramJaccard(spark, dir)
      .filter(col("jaccard") >= MinhashThreshold)
      .select(col("doc_a"), col("doc_b"), lit(1L).as("e"))
    val lsh = dedupMinhash(spark, dir)
      .select(col("doc_a"), col("doc_b"), lit(1L).as("l"))
    exact.join(lsh, Seq("doc_a", "doc_b"), "full")
      .select(coalesce(col("e"), lit(0L)).as("e"),
        coalesce(col("l"), lit(0L)).as("l"))
      .agg(sum(col("e")).as("n_exact"), sum(col("l")).as("n_lsh"),
        sum(col("e") * col("l")).as("n_common"))
      .select(col("n_exact"), col("n_lsh"), col("n_common"),
        when(col("n_exact") > 0,
          round(col("n_common").cast("double") / col("n_exact"), 6))
          .as("lsh_recall"),
        (col("n_lsh") - col("n_common")).as("n_lsh_only"),
        (col("n_exact") - col("n_common")).as("n_exact_only"))
  }

  /** Panel modulus for [[lshRecallSampled]]: 1/4 of docs by portable
    * hash ⇒ ~1/16 of the truth-side pair volume. A production
    * deployment grows the modulus with the corpus to hold the audited
    * panel near-constant (the `probeFixedDelta` pattern) — the canary's
    * cost is then flat per batch regardless of corpus growth.
    */
  val LshRecallPanelMod = 4L

  /** The PRODUCTION recall canary (`q_lsh_recall`'s sampled variant,
    * r13 verdict #6): the full canary prices BOTH pipelines — exact
    * truth over the whole corpus is exactly the cost LSH exists to
    * avoid, so at corpus scale the audit runs on a deterministic DOC
    * PANEL (portable-hash sample, no RNG: ablations re-audit the
    * identical panel). Truth = the exact rare-shingle pass computed
    * WITHIN the panel (panel rarity ≤ corpus rarity, so panel blocking
    * is a superset of the full pass's blocking restricted to the panel
    * — the measured truth is never weaker); LSH side = the memoized
    * full pass filtered to panel pairs (production already pays it).
    * Both-in-panel pairs are a uniform pair sample, so the recall
    * estimate is unbiased for pair-level recall.
    */
  def lshRecallSampled(spark: SparkSession, dir: String): DataFrame = {
    // doc_id is reduced mod the prime BEFORE the Knuth multiply (advice
    // r14): the raw product wraps Spark's Long past doc_id ~3.4e9 (pmod
    // of a wrapped negative stays defined but diverges from DuckDB,
    // whose BIGINT multiply RAISES on overflow). Reduced first, the
    // product is < 1e9 * 2.7e9 < Long.Max in both engines, and
    // ((id mod p) * k) mod p ≡ (id * k) mod p, so the panel is
    // unchanged at fixture ids and now well-defined at any id.
    def inPanel(c: Column): Column =
      pmod(pmod(c, lit(1000000007L)) * 2654435761L,
        lit(1000000007L)) % LshRecallPanelMod === 0
    val sds = shingleIds(spark, dir).filter(inPanel(col("doc_id")))
    val rare = sds.groupBy("sid").agg(count(lit(1)).as("freq"))
      .filter(col("freq") <= RareShingleMaxFreq)
      .select("sid")
    val rds = sds.join(broadcast(rare), Seq("sid"))
    val cand = rds.as("x").join(rds.as("y"),
        col("x.sid") === col("y.sid") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    val exact = verifyPairs(cand, idSets(sds), MinhashThreshold)
      .select(col("doc_a"), col("doc_b"), lit(1L).as("e"))
    val lsh = dedupMinhash(spark, dir)
      .filter(inPanel(col("doc_a")) && inPanel(col("doc_b")))
      .select(col("doc_a"), col("doc_b"), lit(1L).as("l"))
    val rec = exact.join(lsh, Seq("doc_a", "doc_b"), "full")
      .select(coalesce(col("e"), lit(0L)).as("e"),
        coalesce(col("l"), lit(0L)).as("l"))
      // coalesce the sums too: a small panel can yield ZERO pairs, and
      // an empty-input aggregate sums to null, not 0
      .agg(coalesce(sum(col("e")), lit(0L)).as("n_exact"),
        coalesce(sum(col("l")), lit(0L)).as("n_lsh"),
        coalesce(sum(col("e") * col("l")), lit(0L)).as("n_common"))
      .select(col("n_exact"), col("n_lsh"), col("n_common"),
        when(col("n_exact") > 0,
          round(col("n_common").cast("double") / col("n_exact"), 6))
          .as("lsh_recall"),
        (col("n_lsh") - col("n_common")).as("n_lsh_only"),
        (col("n_exact") - col("n_common")).as("n_exact_only"))
    // panel size rides along as the 1-row scalar-feedback cross join
    // (the sanctioned bounded shape — see PlanSpec's sanctioned list)
    rec.crossJoin(
      sds.select("doc_id").distinct().agg(count(lit(1)).as("n_panel_docs")))
  }

  /** Containment threshold for [[dedupContainment]]: flag a pair when the
    * SMALLER doc's shingles sit ≥ this fraction inside the larger.
    */
  val ContainmentThreshold = 0.8

  /** Asymmetric-containment near-dup detection: C(A,B) = |A∩B| / |A| —
    * the subset/quotation case Jaccard structurally misses (a 100-shingle
    * doc fully quoted inside a 2000-shingle doc has Jaccard ≈ 0.05 but
    * containment 1.0). Web corpora are full of these: syndicated
    * articles inside aggregator pages, READMEs inside vendored trees,
    * quoted posts inside threads.
    *
    * Candidate generation REUSES the rare-shingle blocking (not the
    * minhash bands) deliberately: a contained doc SHARES its rare
    * shingles with its container, so blocking keys survive arbitrary
    * size ratios — whereas minhash band keys hash the whole set and
    * diverge as the container grows (the known containment blind spot of
    * plain minhash LSH; production containment pipelines use exactly
    * this kind of rare-feature blocking or an ensemble over size
    * strata). Candidate volume stays bounded by the rare-frequency cap
    * ([[RareShingleMaxFreq]]²/2 pairs per rare shingle). The gate is on
    * containment-of-the-smaller (`|A∩B| / min(|A|,|B|)`), both
    * directions reported.
    */
  def dedupContainment(spark: SparkSession, dir: String): DataFrame = {
    val ds = shingleIds(spark, dir)
    val rare = ds.groupBy("sid").agg(count(lit(1)).as("freq"))
      .filter(col("freq") <= RareShingleMaxFreq)
      .select("sid")
    val rds = ds.join(broadcast(rare), Seq("sid"))
    val cand = rds.as("x").join(rds.as("y"),
        col("x.sid") === col("y.sid") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    val sets = idSets(ds)
    val sa = sets.select(col("doc_id").as("doc_a"), col("sids").as("sa"),
      col("n").as("na"))
    val sb = sets.select(col("doc_id").as("doc_b"), col("sids").as("sb"),
      col("n").as("nb"))
    val ni = size(array_intersect(col("sa"), col("sb"))).cast("long")
    cand.join(sa, Seq("doc_a")).join(sb, Seq("doc_b"))
      .withColumn("ni", ni)
      .filter(col("ni").cast("double") / least(col("na"), col("nb")) >=
        ContainmentThreshold)
      .select(col("doc_a"), col("doc_b"), col("ni").as("n_common"),
        round(col("ni").cast("double") / col("na"), 6)
          .as("containment_a"),
        round(col("ni").cast("double") / col("nb"), 6)
          .as("containment_b"))
  }

  /** (doc_id, sig) SimHash table over [[dedupDocs]]' distinct unigram
    * tokens, `bits` wide: per bit j, sum ±1 votes (vote = parity of
    * hash_j(token id)); bit j is set iff its vote sum is positive. One
    * aggregation pass computes all `bits` sums; token ids via
    * [[portableIdUtf8]] — map-side, no dictionary. The one SimHash
    * signature builder: [[dedupSimhash]] reads it at 16 bits,
    * [[simhashPairs]] at [[SimPairsBits]].
    */
  private def simhashSigs(spark: SparkSession, dir: String,
      bits: Int): DataFrame = {
    val toks = dedupDocs(spark, dir).select(
      col("doc_id"),
      explode(array_distinct(split(col("text"), " "))).as("tok"))
    val dt = toks.select(col("doc_id"), portableIdUtf8(col("tok")).as("tid"))
    val bitSums = (0 until bits).map { j =>
      val bit = ((col("tid") * HashA(j % HashA.size) + HashB(j % HashB.size)
        + j) % P) % 2
      sum(bit * 2 - 1).as(s"s$j")
    }
    val sig = (0 until bits).map(j =>
      when(col(s"s$j") > 0, lit(1L << j)).otherwise(lit(0L)))
      .reduce(_ + _)
    dt.groupBy("doc_id").agg(bitSums.head, bitSums.tail: _*)
      .select(col("doc_id"), sig.as("sig"))
  }

  /** 16-bit SimHash ([[simhashSigs]]) per document plus the number of
    * documents sharing its signature.
    */
  def dedupSimhash(spark: SparkSession, dir: String): DataFrame =
    simhashSigs(spark, dir, 16)
      .select(col("doc_id"), col("sig").as("simhash16"))
      .withColumn("n_same_sig",
        count(lit(1)).over(Window.partitionBy("simhash16")))

  /** Signature width for [[simhashPairs]] — 60 bits (the sign bit and
    * bits 60–63 stay clear, keeping every shift/xor in non-negative
    * BIGINT range on both engines), split into [[SimPairsBands]] 15-bit
    * bands.
    */
  val SimPairsBits = 60
  val SimPairsBands = 4
  val SimPairsBandBits = 15
  /** Pairs with hamming distance ≤ this are near-dups. Pigeonhole: a
    * pair within [[SimPairsMaxHamming]] = bands−1 bit flips must agree
    * on at least one whole band, so banded blocking has PERFECT recall
    * at the threshold (unlike minhash LSH's probabilistic recall).
    */
  val SimPairsMaxHamming = 3

  /** SimHash near-dup PAIRS: the second production near-dup path beside
    * minhash ([[dedupMinhash]]) — [[SimPairsBits]]-bit [[simhashSigs]]
    * signatures fed to [[bandedPairs]], which owns the plan (15-bit-band
    * blocking under the [[LshBucketCap]] guard, identical-signature
    * star, exact `bit_count(xor)` verify). Where [[dedupSimhash]]
    * reports signatures and same-sig counts, this completes the
    * pipeline to verified pairs. 2^15 buckets per band keep expected
    * bucket size |corpus|/32768; production widens to 64-bit
    * signatures/16-bit bands with the same plan. All arithmetic is the
    * portable integer hash family — both engines derive identical
    * signatures bit-for-bit.
    */
  def simhashPairs(spark: SparkSession, dir: String): DataFrame =
    // Deliberately NOT cached (r20 measured): the signature table feeds
    // five plan branches and a cache would collapse the 5 scan+agg
    // subtrees to one — but the warm A/B read 2.2 s uncached vs 2.7 s
    // cached at sf0.1 local[32]: the independent subtrees overlap
    // across cores, while the cache puts a materialization barrier on
    // the critical path (band → window → self-join). The recompute is a
    // constant ×5 on the LINEAR signature pass, not a scale hazard
    // (committed ladder α < 1); a cluster reader whose scan dominates
    // would flip this trade and persist the signature table instead.
    bandedPairs(simhashSigs(spark, dir, SimPairsBits),
      SimPairsBands, SimPairsBandBits, SimPairsMaxHamming)

  /** Near-dup CLUSTERING: the step after pair generation — group the pair
    * graph into connected components and elect one keeper (min doc_id) per
    * component.
    */
  def dedupClusters(spark: SparkSession, dir: String): DataFrame =
    clusterPairs(dedupMinhash(spark, dir).select("doc_a", "doc_b"))._1

  /** One band per row: `df`'s (doc_id, sig) exploded over `bands`
    * bands, with `bkey` the band's `bandBits`-bit slice of the
    * signature — the band-key expression of [[bandedPairs]] and
    * [[bandedCrossProbe]].
    */
  private def bandKeys(df: DataFrame, bands: Int, bandBits: Int): DataFrame =
    df.select(col("doc_id"), col("sig"),
        explode(sequence(lit(0), lit(bands - 1))).as("band"))
      .withColumn("bkey", expr(
        s"shiftright(sig, CAST(band * $bandBits AS INT)) % ${1 << bandBits}"))

  /** The banded-hamming candidate plan, owned here for every near-dup
    * signature: text SimHash ([[simhashPairs]]), image dHash and the
    * audio/video energy hashes (through [[bandedHammingClusters]]).
    * `sigs` is (doc_id, sig) with sig a non-negative BIGINT of
    * `bands × bandBits` meaningful bits (keep bands×bandBits ≤ 60 so
    * shifts/xors never touch the sign bit on either engine). Plan:
    * [[bandKeys]] → per-(band, bkey) size window → pairwise self-join
    * inside buckets of at most [[LshBucketCap]] docs (bounded cap²/2
    * work per bucket) ∪ an identical-FULL-signature star to each
    * group's min doc (O(k) pairs, hamming 0 by construction — an
    * exact-dup block of 10⁶ copies costs linear candidates, never
    * 10¹²) → distinct → exact `bit_count(xor)` verify ≤ `maxHamming`.
    * With `maxHamming` = bands − 1 the pigeonhole principle gives
    * perfect recall below the cap: a pair within that many flips agrees
    * on at least one whole band. Returns (doc_a, doc_b, hamming) with
    * doc_a < doc_b.
    */
  private[graft] def bandedPairs(sigs: DataFrame, bands: Int,
      bandBits: Int, maxHamming: Int): DataFrame = {
    val gb = bandKeys(sigs, bands, bandBits)
      .withColumn("bsize",
        count(lit(1)).over(Window.partitionBy(col("band"), col("bkey"))))
      .filter(col("bsize") <= LshBucketCap)
    val pairwise = gb.as("x").join(gb.as("y"),
        col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey")
          && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
    val star = sigs
      .withColumn("hub", min(col("doc_id")).over(Window.partitionBy("sig")))
      .filter(col("hub") < col("doc_id"))
      .select(col("hub").as("doc_a"), col("doc_id").as("doc_b"))
    val sa = sigs.select(col("doc_id").as("doc_a"), col("sig").as("sig_a"))
    val sb = sigs.select(col("doc_id").as("doc_b"), col("sig").as("sig_b"))
    pairwise.union(star).distinct()
      .join(sa, Seq("doc_a")).join(sb, Seq("doc_b"))
      .withColumn("hamming",
        expr("CAST(bit_count(sig_a ^ sig_b) AS INT)"))
      .filter(col("hamming") <= maxHamming)
      .select("doc_a", "doc_b", "hamming")
  }

  /** Near-dup CLUSTERING over any hash signature: [[bandedPairs]] owns
    * the candidate plan and the verify; this adds connected components
    * and keeper election via [[clusterPairs]]. The modality dedups
    * ([[Multimodal.imageDedup]], [[Multimodal.audioDedup]],
    * [[Multimodal.videoDedup]]) all run it, so the scale contract is
    * proven once: candidates are band-bucketed (never all-pairs), the
    * pair graph is dup-sized, the component loop is O(log n). The
    * MEASURED scale evidence for the shared plan is `q_simhash_pairs`'
    * row in BASELINE.md's ScaleBench table (α ≈ 0.29 at sf0.1×10 — the
    * corpus-signature workload); the modality dedups themselves are
    * absent from ScaleBench because their corpus rows are magic-filtered
    * out before decode, leaving a planted-sized input BY CONSTRUCTION —
    * their 100 TB behavior IS this shared plan's.
    *
    * Returns one row per input doc: (doc_id, sig, cluster_root,
    * is_keeper) — singletons root at themselves and keep.
    */
  private[graft] def bandedHammingClusters(sigs: DataFrame, bands: Int,
      bandBits: Int, maxHamming: Int): DataFrame = {
    val labels = clusterPairs(
      bandedPairs(sigs, bands, bandBits, maxHamming)
        .select("doc_a", "doc_b"))._1
    sigs.join(labels, Seq("doc_id"), "left")
      .select(col("doc_id"), col("sig"),
        coalesce(col("component_root"), col("doc_id")).as("cluster_root"),
        coalesce(col("keep"), lit(true)).as("is_keeper"))
  }

  /** The cross-side probe, owned here for every modality's
    * decontamination ([[Multimodal.imageDecontaminate]] and its audio
    * and video siblings): corpus signatures tested against a BENCHMARK
    * signature set (the benchmark is eval-suite-sized, never
    * corpus-sized, so its bands broadcast). UNLIKE [[bandedPairs]]
    * there is NO [[LshBucketCap]] corpus-side guard here: candidates
    * are bounded by corpus rows × bench rows sharing a band key (linear
    * in the corpus with an eval-suite-sized constant, never quadratic),
    * and a cap would silently DROP real leaks whenever a band bucket
    * oversizes — decontamination must keep the pigeonhole recall
    * guarantee intact. Dropping the cap also drops the per-(band,bkey)
    * size window, so the corpus side is exchange-free: [[bandKeys]] →
    * broadcast-join → exact `bit_count(xor)` verify ≤ `maxHamming` →
    * dedup of the (already leak-sized) hit pairs. Both inputs are
    * (doc_id, sig); returns one row per (leaked corpus doc, benchmark
    * hit): (doc_id, bench_id, hamming).
    */
  private[graft] def bandedCrossProbe(corpus: DataFrame, bench: DataFrame,
      bands: Int, bandBits: Int, maxHamming: Int): DataFrame =
    bandKeys(corpus, bands, bandBits).as("c")
      .join(broadcast(bandKeys(bench, bands, bandBits).as("b")),
        col("c.band") === col("b.band") && col("c.bkey") === col("b.bkey"))
      .select(col("c.doc_id").as("doc_id"),
        col("b.doc_id").as("bench_id"),
        expr("CAST(bit_count(c.sig ^ b.sig) AS INT)").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()

  /** DuckDB twin of [[bandedCrossProbe]]'s final select over a
    * preceding `sigs(doc_id, sig)` CTE: brute-force benchmark×corpus at
    * the threshold (equivalent to the uncapped banded path by
    * pigeonhole — every pair within `maxHamming` shares at least one
    * exact band, and no cap can drop it).
    */
  private[graft] def crossProbeSqlTail(benchIds: Seq[Long],
      maxHamming: Int): String = {
    val benchList = benchIds.mkString(", ")
    s"""SELECT c.doc_id, b.doc_id AS bench_id,
       |  CAST(bit_count(xor(c.sig, b.sig)) AS INTEGER) AS hamming
       |FROM sigs c JOIN sigs b ON b.doc_id IN ($benchList)
       |  AND c.doc_id NOT IN ($benchList)
       |WHERE bit_count(xor(c.sig, b.sig)) <= $maxHamming""".stripMargin
  }

  /** DuckDB twin of [[bandedPairs]]: the CTE text from banding through
    * the verified `pairs(doc_a, doc_b, hamming)`, over a preceding CTE
    * named `sigs(doc_id, sig)`.
    */
  private def bandedPairsSqlCtes(bands: Int, bandBits: Int,
      maxHamming: Int): String =
    s"""bnd AS (SELECT doc_id, sig, band,
       |    (sig >> (band * $bandBits)) % ${1 << bandBits} AS bkey
       |  FROM sigs, (SELECT unnest(range(0, $bands)) AS band)),
       |sized AS (SELECT doc_id, band, bkey,
       |    count(*) OVER (PARTITION BY band, bkey) AS bsize FROM bnd),
       |gb AS (SELECT doc_id, band, bkey FROM sized
       |  WHERE bsize <= $LshBucketCap),
       |star AS (SELECT hub AS doc_a, doc_id AS doc_b FROM (
       |  SELECT min(doc_id) OVER (PARTITION BY sig) AS hub, doc_id
       |  FROM sigs) WHERE hub < doc_id),
       |cand AS (SELECT DISTINCT doc_a, doc_b FROM (
       |  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b
       |  FROM gb x JOIN gb y ON x.band = y.band AND x.bkey = y.bkey
       |    AND x.doc_id < y.doc_id
       |  UNION ALL SELECT doc_a, doc_b FROM star)),
       |pairs AS (SELECT doc_a, doc_b,
       |    CAST(bit_count(xor(sa.sig, sb.sig)) AS INTEGER) AS hamming
       |  FROM cand
       |  JOIN sigs sa ON sa.doc_id = doc_a
       |  JOIN sigs sb ON sb.doc_id = doc_b
       |  WHERE bit_count(xor(sa.sig, sb.sig)) <= $maxHamming)""".stripMargin

  /** DuckDB twin of [[bandedHammingClusters]]: [[bandedPairsSqlCtes]],
    * then the recursive component closure and the final per-doc select,
    * over a preceding CTE named `sigs(doc_id, sig)`. `sigCol` names the
    * output signature column (dhash / ahash / …). Callers must open
    * their statement with `WITH RECURSIVE`.
    */
  private[graft] def bandedClusterSqlTail(bands: Int, bandBits: Int,
      maxHamming: Int, sigCol: String): String =
    s"""${bandedPairsSqlCtes(bands, bandBits, maxHamming)},
       |edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
       |  UNION SELECT doc_b, doc_a FROM pairs),
       |reach(a, b) AS (SELECT a, b FROM edges
       |  UNION SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
       |    WHERE e.b <> r.a),
       |comp AS (SELECT a AS doc_id, least(a, min(b)) AS root
       |  FROM reach GROUP BY a)
       |SELECT s.doc_id, s.sig AS $sigCol,
       |  coalesce(c.root, s.doc_id) AS cluster_root,
       |  coalesce(s.doc_id = c.root, TRUE) AS is_keeper
       |FROM sigs s LEFT JOIN comp c ON s.doc_id = c.doc_id""".stripMargin

  /** Edge-count threshold below which [[clusterPairs]] solves components
    * with one bounded collect + driver union-find instead of the
    * distributed loop: 1M directed edges ≈ 16 MB of longs — inside the
    * bounded-collect contract, and the measured edge count (already
    * taken for partition sizing) makes the dispatch free. The win is the
    * job count: on a dup-sized graph the distributed loop's cost is
    * per-round JOB LATENCY, not compute (~4–8 jobs of near-empty tasks);
    * the driver path is one job. The distributed loop remains the
    * production path the moment the pair graph is genuinely large.
    */
  val SmallGraphMaxEdges = 1000000L

  /** Driver-side components for a small (≤ [[SmallGraphMaxEdges]])
    * checkpointed edge list: classic union-find with path compression +
    * union-by-min, then per-component min labeling — bit-identical to
    * the distributed loop's (node, component_root = component min,
    * keep = node is min) output, in ONE collect job.
    */
  private def unionFindLocal(edges: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val es = edges.select(col("doc_a"), col("doc_b")).as[(Long, Long)]
      .collect()
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    es.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a)
      parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) {
        if (ra < rb) parent(rb) = ra else parent(ra) = rb
      }
    }
    val labels = parent.keys.toSeq.sorted.map { n =>
      val r = find(n)
      (n, r, n == r)
    }
    labels.toDF("doc_id", "component_root", "keep")
  }

  /** Connected components over an undirected pair graph by min-label
    * propagation WITH POINTER HALVING: each round every node takes the
    * smallest root among itself and its neighbors, then follows one extra
    * hop to that root's own root. The halving hop makes the round count
    * O(log n) on deep graphs, not O(diameter): on a path graph the
    * distance-to-root offset recurrence is o(k) = 2*o(k-1) + 2 (neighbor
    * hop compounds with the halving hop), so a 1000-node path converges in
    * ~9 rounds where plain propagation needs ~500 — the same guarantee
    * large-star/small-star buys, with one fewer join per round
    * (ClusteringSpec measures exactly this).
    *
    * Returns (labels, rounds): one row per node with its component root
    * (= component min) and a keeper flag, plus the converged round count.
    */
  private[graft] def clusterPairs(pairs: DataFrame,
      smallGraphMaxEdges: Long = SmallGraphMaxEdges): (DataFrame, Int) = {
    // localCheckpoint (not cache): iterative algorithms must TRUNCATE the
    // logical plan each round — with cache alone every round's plan embeds
    // the whole previous round plus the LSH subtree, and Catalyst
    // re-analysis blows up exponentially (measured 185s for round 2 on 256
    // pairs before truncation)
    val edges0 = pairs.union(
      pairs.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
      .localCheckpoint()
    val nEdges = edges0.count()
    if (nEdges <= smallGraphMaxEdges)
      return (unionFindLocal(edges0), 0)
    // Size the loop's partitioning to the MEASURED edge count (the
    // checkpoint is eager, so the count is a cached-scan): the pair graph
    // is dup-sized, orders of magnitude smaller than the corpus, yet the
    // joins below would otherwise run every round as
    // shuffle-partition-wide stages of near-empty tasks — per-round wall
    // time is task latency, not compute. 1M edges/partition keeps the
    // count growing linearly when the graph is genuinely large.
    val parts = math.max(1, math.ceil(nEdges / 1e6).toInt)
    val edges = edges0.repartition(parts, col("doc_b")).localCheckpoint()
    var labels = edges.select(col("doc_a").as("node")).distinct()
      .withColumn("root", col("node"))
      .localCheckpoint()
    var changed = 1L
    var iter = 0
    while (changed > 0 && iter < 50) {
      val neighborRoots = edges
        .join(labels.select(col("node").as("doc_b"), col("root").as("nroot")),
          Seq("doc_b"))
        .groupBy(col("doc_a").as("node"))
        .agg(min(col("nroot")).as("min_nroot"))
      // path compression (pointer halving): follow one extra hop to the
      // root's own root — collapses chains in O(log diameter) rounds
      // instead of O(diameter)
      val propagated = labels.join(neighborRoots, Seq("node"), "left")
        .select(col("node"), col("root"),
          least(col("root"), coalesce(col("min_nroot"), col("root")))
            .as("new_root"))
        .cache()
      // the convergence metric rides the SAME job that materializes the
      // round: localCheckpoint (eager, a tracked action) executes the
      // plan including the CollectMetrics node, so each round is ONE job
      // — a separate changed-rows count() per round would double the
      // per-round job overhead that dominates this loop's wall time (the
      // data is dup-sized, not corpus-sized). STRING-named observe, not
      // the Observation API: Observation.register materializes the
      // session's lazy (non-serializable) ObservationManager field,
      // after which ANY closure that drags the session in — e.g. Spark
      // ML's trainingSummary captured by a model-transform UDF — fails
      // task serialization for the rest of the session's lifetime. The
      // named metric reads back synchronously from this query's own
      // execution, no listener wait, no session-level registration.
      val metric = s"cc_changed_$iter"
      val observed = propagated
        .join(propagated.select(col("node").as("new_root"),
          col("new_root").as("rroot")), Seq("new_root"), "left")
        .select(col("node"), col("root"),
          coalesce(col("rroot"), col("new_root")).as("new_root"))
        .observe(metric, sum(when(col("new_root") =!= col("root"), 1L)
          .otherwise(0L)).as("changed"))
      val updated = observed.localCheckpoint()
      // localCheckpoint is eager: `updated` is materialized, so the
      // round's cache can drop NOW — without this, executor storage creeps
      // by one cached frame per round
      propagated.unpersist()
      // defensive fallback: an absent/null metric (must not happen on a
      // healthy run — ClusteringSpec gates it) degrades to a count job
      changed = observed.queryExecution.observedMetrics.get(metric)
        .flatMap(r => Option(r.getAs[Any]("changed")))
        .collect { case n: Number => n.longValue() }
        .getOrElse(updated.filter(col("new_root") =!= col("root")).count())
      labels = updated.select(col("node"), col("new_root").as("root"))
      iter += 1
    }
    require(changed == 0, s"components did not converge in $iter rounds")
    (labels.select(col("node").as("doc_id"),
      col("root").as("component_root"),
      (col("node") === col("root")).as("keep")), iter)
  }

  /** Benchmark-set decontamination: every training document sharing at
    * least one word-3-gram shingle with the held-out benchmark slice,
    * with its overlap count and contamination ratio — the standard
    * pre-training hygiene pass that keeps eval data out of the training
    * corpus. The fixture's "benchmark" is the deterministic doc_id % 97
    * slice (a production run would read the real eval suites as a second
    * table; the plan is identical).
    *
    * Scale shape: shingle ids are the shared memoized map-side table
    * ([[shingleIds]]); the benchmark's distinct-shingle set is benchmark-
    * sized (eval suites are tiny next to a training corpus), so it
    * BROADCASTS and the whole pass is scans of the cached shingle table —
    * no shuffle of the corpus against itself.
    *
    * Aggregate shape (shared with [[decontaminateBloom]]): hit counts and
    * per-doc totals are TWO single-countDistinct aggregates joined back
    * (hits are contaminated-doc-sized, so they broadcast) — one groupBy
    * with two countDistincts would plan an Expand that doubles every row
    * through the shuffle, the costlier plan at corpus scale.
    */
  val DecontamBenchMod = 97L

  def decontaminate(spark: SparkSession, dir: String): DataFrame = {
    val ids = shingleIds(spark, dir)
    val bench = ids.filter(col("doc_id") % DecontamBenchMod === 0)
      .select("sid").distinct()
    val corpus = ids.filter(col("doc_id") % DecontamBenchMod =!= 0)
    val hits = corpus.join(broadcast(bench), Seq("sid"))
      .groupBy("doc_id")
      .agg(countDistinct(col("sid")).as("n_hits"))
    corpus.groupBy("doc_id")
      .agg(countDistinct(col("sid")).as("n_shingles"))
      .join(broadcast(hits), Seq("doc_id"))
      .select(col("doc_id"), col("n_hits"), col("n_shingles"),
        round(col("n_hits").cast("double") / col("n_shingles"), 6)
          .as("contamination"))
  }

  /** Repeated-span (exact-substring) boilerplate detection: every
    * 8-token window shared by at least two documents, top spans by
    * cross-document spread — the signal exact-substring dedup pipelines
    * act on (shared spans are boilerplate/templates; a full pipeline
    * would then cut or dedupe those spans). Window positions explode
    * map-side; the one shuffle groups by the span; the global top-k is an
    * `orderBy().limit()` so it plans as TakeOrderedAndProject
    * (per-partition heads + driver merge), never a single-partition
    * window. The (n_docs, n_occ, span) order key is total, so the cut
    * is deterministic on both engines.
    */
  val SpanTokens = 8
  val SpanTopK = 20

  def repeatedSpans(spark: SparkSession, dir: String): DataFrame = {
    val t = split(col("text"), " ")
    Tables.documents(spark, dir)
      .select(col("doc_id"), t.as("t"))
      .filter(size(col("t")) >= SpanTokens)
      .select(col("doc_id"),
        explode(sequence(lit(1), size(col("t")) - (SpanTokens - 1)))
          .as("p"), col("t"))
      .select(col("doc_id"),
        concat_ws(" ", slice(col("t"), col("p"), lit(SpanTokens)))
          .as("span"))
      .groupBy("span")
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_occ"))
      .filter(col("n_docs") >= 2)
      .orderBy(col("n_docs").desc, col("n_occ").desc, col("span"))
      .limit(SpanTopK)
  }

  /** Cross-document exact-substring dedup parameters: windows of
    * [[SubstrW]] tokens; a maximal duplicated run must cover at least
    * [[SubstrMinSpan]] tokens to be a removal verdict (Lee et al. 2021
    * use 50 BPE tokens at web scale; the fixture-sized floor keeps the
    * planted 16-token quotes above it and single duplicated 8-grams
    * below it).
    */
  val SubstrW = 8
  val SubstrMinSpan = 12

  /** Planted verbatim-quote pair for [[substringDedup]]: sixteen
    * distinctive tokens embedded at DIFFERENT, non-chunk-aligned
    * offsets (position 4 in the first doc, 8 in the second) — the
    * arbitrary-alignment case chunk-level dedup structurally misses.
    */
  private[graft] val SubstrPlantedRows: Seq[(Long, String)] = {
    val quote = (1 to 16).map(i => f"zq$i%02d").mkString(" ")
    Seq(
      (993001L, s"pza1 pza2 pza3 $quote wza1 wza2"),
      (993002L, s"pzb1 pzb2 pzb3 pzb4 pzb5 pzb6 pzb7 $quote wzb1"))
  }

  /** Format version of the persisted substring SID grid (the
    * [[ShingleGridVersion]] policy applied to [[substrSidIndex]], advice
    * r14): the grid is keyed by [[substrWindows]]'s segmentation +
    * window hash, so any change to either MUST bump this — the version
    * is wired into BOTH the SessionMemo key and the physical table name,
    * making a stale-format index unreadable rather than silently mixed.
    */
  val SubstrGridVersion = 1

  /** (doc_id, pos, sid) window-position stream under the shared
    * segmentation — the front half of [[substringSpans]] and the
    * incremental probe.
    */
  private def substrWindows(docs: DataFrame): DataFrame =
    substrWindowsOf(docs.select(col("doc_id"),
      TextOps.segmentTokens(col("text")).as("t")))

  /** Window grid from an already-tokenized `(doc_id, t)` frame — the
    * per-doc map half of [[substrWindows]], split out (r20) so the
    * family can ride the text family's ONE cached segmentation pass
    * ([[TextOps.tokenizedDocs]]) instead of re-running the segmentation
    * regex per consumer. Windows are per-doc independent, so
    * `substrWindowsOf(a union b) ≡ substrWindowsOf(a) union
    * substrWindowsOf(b)` — the planted rows tokenize on their own tiny
    * local branch.
    */
  private def substrWindowsOf(toks: DataFrame): DataFrame = {
    val w = SubstrW
    toks
      .filter(size(col("t")) >= w)
      .select(col("doc_id"), col("t"),
        explode(sequence(lit(1), size(col("t")) - (w - 1))).as("pos"))
      .select(col("doc_id"), col("pos"),
        graft.functions.StringFunctions.utf8_poly_id(
          concat_ws(" ", slice(col("t"), col("pos"), lit(w))), IdMod)
          .as("sid"))
  }

  /** Corpus `(doc_id, t)` token stream for the substring family —
    * [[TextOps.tokenizedDocs]]'s cached segmentation, renamed to the
    * family's column (r20): zero extra regex passes for the whole
    * family once any text-family query (or the first substring
    * consumer) has populated the memo.
    */
  private def substrTokens(spark: SparkSession, dir: String): DataFrame =
    TextOps.tokenizedDocs(spark, dir)
      .select(col("doc_id"), col("ws").as("t"))

  /** The [[SubstrPlantedRows]] tokenized — a two-row local branch. */
  private def plantedTokens(spark: SparkSession): DataFrame = {
    import spark.implicits._
    SubstrPlantedRows.toDF("doc_id", "text")
      .select(col("doc_id"), TextOps.segmentTokens(col("text")).as("t"))
  }

  /** CACHED plain-corpus window grid `(doc_id, pos, sid)` — memoized
    * per (session, dir) like the shingle grid (r20, guide §2.4). Five
    * consumers re-derived it independently before the memo: the
    * ingest probe's corpus AND delta branches (both in ONE plan), the
    * persisted sid-index build, the bucketed probe's delta side, and
    * [[dedupReport]]'s span pass. The grid is position-count-sized
    * (≈ one row per corpus token: a long, an int, a long), far
    * smaller than the text it came from; at cluster scale this is the
    * table a standing pipeline persists next to the corpus (the
    * [[substrSidIndex]] note), and the cache spills/evicts with the
    * session. Keyed by [[SubstrGridVersion]] like the persisted index:
    * a segmentation or hash change must invalidate, not silently mix.
    */
  private def substrWindowsPlain(spark: SparkSession,
      dir: String): DataFrame =
    SessionMemo.getOrComputeCleanup(spark,
        s"dedup.substrWindows:v$SubstrGridVersion:$dir") {
      // r21 (guide §5, VERDICT r20 #1): serialized storage + eviction
      // unpersist — session-long cache, minimal heap held
      substrWindowsOf(substrTokens(spark, dir))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    }(df => scala.util.Try(df.unpersist()): Unit)

  /** Back half shared by the span queries: marked positions → maximal
    * token intervals ≥ [[SubstrMinSpan]]. Input is (doc_id, pos).
    */
  private def substrIslands(marked: DataFrame): DataFrame = {
    val w = SubstrW
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    marked
      .withColumn("prev", lag(col("pos"), 1).over(byDoc))
      .withColumn("brk",
        when(col("prev").isNull || col("pos") - col("prev") > w, 1L)
          .otherwise(0L))
      .withColumn("island", sum(col("brk")).over(byDoc))
      .groupBy("doc_id", "island")
      .agg(min(col("pos")).cast("long").as("span_start"),
        (max(col("pos")) + (w - 1)).cast("long").as("span_end"),
        count(lit(1)).as("n_windows"))
      .select(col("doc_id"), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start") + 1).as("span_tokens"),
        col("n_windows"))
      .filter(col("span_tokens") >= SubstrMinSpan)
  }

  /** Core of [[substringDedup]] over any (doc_id, text) frame — split
    * out so PropertySpec can re-run it on the REDACTED corpus for the
    * idempotence law.
    */
  private[graft] def substringSpans(docs: DataFrame): DataFrame =
    substringSpansFromWindows(substrWindows(docs))

  /** Back two exchanges of [[substringSpans]] from an existing window
    * grid (r20): the ≥2-occurrence mark over sid, then the island fold.
    */
  private def substringSpansFromWindows(win: DataFrame): DataFrame = {
    val marked = win
      .withColumn("n_occ",
        count(lit(1)).over(Window.partitionBy(col("sid"))))
      .filter(col("n_occ") >= 2)
      .select("doc_id", "pos")
    substrIslands(marked)
  }

  /** CACHED spans over the PLANTED corpus (docs ∪ [[SubstrPlantedRows]])
    * — the exact result [[substringDedup]] declares, memoized (r20)
    * because [[substringScrub]] consumes the SAME span table for its
    * removal surgery: before the memo each ran the full window + mark +
    * island pipeline independently. Verdict-sized (maximal ≥12-token
    * intervals only), so the cache holds rows proportional to detected
    * duplication, not the corpus.
    */
  private def substrSpansPlanted(spark: SparkSession,
      dir: String): DataFrame =
    SessionMemo.getOrComputeCleanup(spark,
        s"dedup.substrSpansPlanted:v$SubstrGridVersion:$dir") {
      substringSpansFromWindows(
        substrWindowsPlain(spark, dir)
          .unionByName(substrWindowsOf(plantedTokens(spark))))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    }(df => scala.util.Try(df.unpersist()): Unit)

  /** tok+sh window CTEs from a preceding `src(doc_id, text)` CTE. */
  private def substrWindowSqlCtes: String = {
    val w = SubstrW
    s"""tok AS (SELECT doc_id, ${TextOps.segmentSql("text")} AS t
       |  FROM src),
       |sh AS (SELECT doc_id, p AS pos,
       |    ${idUtf8Sql(s"array_to_string(t[p : p + ${w - 1}], ' ')")}
       |      AS sid
       |  FROM tok, LATERAL (SELECT
       |    unnest(range(1, len(t) - ${w - 2})) AS p)
       |  WHERE len(t) >= $w)""".stripMargin
  }

  /** island/span CTEs from a preceding `mk(doc_id, pos)` CTE. */
  private def substrIslandSqlCtes: String = {
    val w = SubstrW
    s"""isl AS (SELECT doc_id, pos,
       |    sum(CASE WHEN prev IS NULL OR pos - prev > $w
       |      THEN 1 ELSE 0 END)
       |      OVER (PARTITION BY doc_id ORDER BY pos) AS island
       |  FROM (SELECT doc_id, pos,
       |      lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
       |    FROM mk)),
       |sp AS (SELECT doc_id, island,
       |    CAST(min(pos) AS BIGINT) AS span_start,
       |    CAST(max(pos) + ${w - 1} AS BIGINT) AS span_end,
       |    CAST(count(*) AS BIGINT) AS n_windows
       |  FROM isl GROUP BY doc_id, island)""".stripMargin
  }

  /** DuckDB CTE chain from a preceding `src(doc_id, text)` CTE to the
    * maximal-duplicated-interval table `sp(doc_id, island, span_start,
    * span_end, n_windows)` — the twin of [[substringSpans]], shared by
    * the span-listing and corpus-report oracles.
    */
  private def substrSpanSqlCtes: String =
    s"""$substrWindowSqlCtes,
       |mk AS (SELECT doc_id, pos FROM (SELECT doc_id, pos,
       |    count(*) OVER (PARTITION BY sid) AS n_occ FROM sh)
       |  WHERE n_occ >= 2),
       |$substrIslandSqlCtes""".stripMargin

  /** Cross-document EXACT-SUBSTRING dedup at suffix granularity — the
    * Lee-et-al "remove any ≥N-token span that appears verbatim
    * elsewhere" story that [[repeatedSpans]] (top shared windows) and
    * [[chunkDedup]] (fixed-boundary chunks) approximate. Every
    * [[SubstrW]]-token window position whose shingle occurs ≥2 times
    * ANYWHERE in the corpus (other doc or elsewhere in the same doc) is
    * marked; marked positions coalesce into maximal token intervals
    * (touching-or-overlapping windows merge: gap ≤ W); intervals of
    * ≥[[SubstrMinSpan]] tokens are emitted as removal spans — arbitrary
    * alignment, no chunk grid. Matches the ExactSubstr definition:
    * every copy of a duplicated span is flagged, first occurrences
    * included.
    *
    * 100 TB shape: shingles explode map-side off the shared
    * segmentation; ONE sid exchange prices duplication (a window count,
    * never a self-join — candidates are positions, not pairs); ONE
    * doc_id exchange sorts each doc's marked positions for the island
    * fold. Never all-pairs, no driver state; the output is
    * verdict-sized.
    */
  def substringDedup(spark: SparkSession, dir: String): DataFrame =
    substrSpansPlanted(spark, dir)

  /** Span-removal surgery — the APPLY half of [[substringDedup]]'s
    * detect half: every flagged ≥[[SubstrMinSpan]]-token duplicated
    * interval is cut out and the survivors reassemble in order, which
    * is what Lee et al.'s ExactSubstr actually does to the training
    * corpus (drop the span, keep both neighbors). Output is the
    * scrubbed token stream (canonical single-space join of the shared
    * segmentation — the token grid the spans were measured on), its
    * exact token accounting, and the portable byte fingerprint that
    * hash-pins the reconstructed CONTENT, not just the counts.
    *
    * 100 TB shape: the span side is [[substringSpans]]'s two exchanges
    * collapsed to a per-doc interval list (verdict-sized); the
    * reconstruction is one doc_id join + a map-side double HOF
    * (positions × spans-per-doc — spans per doc are few by
    * construction, intervals are MAXIMAL and ≥12 tokens, so a doc
    * carries at most n_tokens/12 of them). Docs with no spans take the
    * null-branch identity: their token array passes through untouched.
    */
  def substringScrub(spark: SparkSession, dir: String): DataFrame = {
    // r20: the span side is [[substrSpansPlanted]] — the SAME cached
    // table [[substringDedup]] declares — and the token side rides the
    // cached segmentation (tokens of (docs ∪ planted) ≡ tokens(docs) ∪
    // tokens(planted), a per-row map over independent rows)
    val spans = substrSpansPlanted(spark, dir)
      .groupBy("doc_id")
      .agg(collect_list(struct(col("span_start"), col("span_end")))
        .as("spans"))
    val kept = filter(
      sequence(lit(1), size(col("t"))),
      p => !exists(col("spans"), s =>
        p >= s.getField("span_start") && p <= s.getField("span_end")))
    val scrubToks = when(col("spans").isNull, col("t"))
      .otherwise(transform(kept, p => element_at(col("t"), p)))
    substrTokens(spark, dir).unionByName(plantedTokens(spark))
      .join(spans, Seq("doc_id"), "left")
      .withColumn("st", scrubToks)
      .select(col("doc_id"),
        size(col("t")).cast("long").as("n_tokens"),
        (size(col("t")) - size(col("st"))).cast("long").as("n_removed"),
        concat_ws(" ", col("st")).as("scrub_text"),
        graft.functions.StringFunctions.utf8_poly_id(
          concat_ws(" ", col("st")), IdMod).as("scrub_fp"))
  }

  /** INGEST-TIME exact-substring probe — the incremental chapter of the
    * substring-dedup family, the shape a production pipeline runs on
    * every arriving batch: each DELTA document (doc_id %
    * [[IncrementalDeltaMod]] == 0, the same batch carve as
    * [[dedupIncremental]]) is scanned for spans whose every window
    * already exists in the STANDING CORPUS (the non-delta docs), i.e.
    * "this new document quotes ≥[[SubstrMinSpan]] tokens of content we
    * already have" — flagged before the batch is admitted. Plan: delta
    * windows LEFT SEMI join the corpus's DISTINCT sid set (one sid
    * exchange each side; the semi join ships no corpus payload), then
    * the per-delta-doc island fold. The corpus side rebuilds here per
    * run; a standing ingest persists it `bucketBy(sid)` exactly like
    * [[corpusBandIndex]] does for minhash bands — the probe plan is
    * index-layout-invariant, so the steady-state cost is delta-sized.
    * Never all-pairs: candidates are delta window POSITIONS, not
    * document pairs.
    */
  def substringIncremental(spark: SparkSession, dir: String): DataFrame = {
    // r20: win is the CACHED plain grid — its corpus and delta branches
    // sit in ONE plan, and before the memo each re-ran the segmentation
    // + window-hash map pass independently
    val win = substrWindowsPlain(spark, dir)
    val corpusSids = win
      .filter(col("doc_id") % IncrementalDeltaMod > 0)
      .select("sid").distinct()
    val marked = win
      .filter(col("doc_id") % IncrementalDeltaMod === 0)
      .join(corpusSids, Seq("sid"), "left_semi")
      .select("doc_id", "pos")
    substrIslands(marked)
      .withColumnRenamed("doc_id", "doc_new")
  }

  /** Persisted corpus SID index for the exact-substring ingest gate —
    * the [[corpusBandIndex]] pattern applied to [[substringIncremental]]'s
    * corpus side (r13 verdict #7): the standing corpus's distinct window
    * sids, written `bucketBy(sid)` + `saveAsTable` once per session, so
    * every delta batch's semi-join probes the index CO-LOCATED — no
    * corpus-side exchange, no corpus window recompute per batch. The
    * name carries a format version (same invalidation policy as
    * [[ShingleGridVersion]]: the substring grid is segmentation-keyed,
    * and changing it must rename, not silently mix).
    */
  private def substrSidIndex(spark: SparkSession, dir: String): String =
    SessionMemo.getOrComputeCleanup(spark,
        s"dedup.substrSidIndex:v$SubstrGridVersion:$dir") {
      val table = s"graft_substr_sid_index_v${SubstrGridVersion}_" +
        s"${math.abs(dir.hashCode.toLong)}"
      val corpusSids = substrWindowsPlain(spark, dir)
        .filter(col("doc_id") % IncrementalDeltaMod > 0)
        .select("sid").distinct()
      val path = TempArtifacts.tempDir(s"graft_substr_sid_$table")
      corpusSids.write.bucketBy(CorpusIndexBuckets, "sid")
        .option("path", s"$path/$table").mode("overwrite")
        .saveAsTable(table)
      BandIndex(table, path)
    } { bi =>
      scala.util.Try(
        spark.sql(s"DROP TABLE IF EXISTS ${bi.table}")): Unit
      TempArtifacts.delete(bi.path)
    }.table

  /** [[substringIncremental]] through the persisted bucketed sid index —
    * bit-identical output (same oracle SQL), different physical shape:
    * the corpus side is a bucket-pruned table scan, only the delta's
    * windows shuffle (plan-gated: zero corpus-side Exchange).
    */
  def substringIncrementalBucketed(spark: SparkSession,
      dir: String): DataFrame = {
    val idx = spark.table(substrSidIndex(spark, dir))
    val marked = substrWindowsPlain(spark, dir)
      .filter(col("doc_id") % IncrementalDeltaMod === 0)
      .join(idx, Seq("sid"), "left_semi")
      .select("doc_id", "pos")
    substrIslands(marked)
      .withColumnRenamed("doc_id", "doc_new")
  }

  /** Probe-cost isolation for the substring sid index (the
    * [[probeFixedDelta]] pattern): the ingest probe with the delta
    * FROZEN to the 1x copy while the indexed corpus scales — the
    * near-flat row is the evidence that repeat batches pay
    * delta-sized work only (the steady-state bucketed row cannot show
    * it: its delta grows with the corpus by construction).
    */
  private[graft] def substrProbeFixedDelta(spark: SparkSession,
      dir: String, cap: Long): DataFrame = {
    val idx = spark.table(substrSidIndex(spark, dir))
    // windows are per-doc, so capping docs before the grid ≡ filtering
    // the (cached) grid by doc_id after
    val marked = substrWindowsPlain(spark, dir)
      .filter(col("doc_id") < cap)
      .filter(col("doc_id") % IncrementalDeltaMod === 0)
      .join(idx, Seq("sid"), "left_semi")
      .select("doc_id", "pos")
    substrIslands(marked)
      .withColumnRenamed("doc_id", "doc_new")
  }

  /** Per-source duplication REPORT over the exact-substring spans — the
    * Lee-et-al-style "how much of the corpus is verbatim-duplicated
    * text" table a dedup run publishes before/after acting: per source,
    * doc and token counts, docs carrying ≥1 removable span, total
    * duplicated tokens (spans are maximal and non-overlapping within a
    * doc by construction, so the sum is exact coverage), the integer-ppm
    * duplicated share, and the largest span. Plan: the span pass
    * (verdict-sized output) joins back to per-doc token counts on
    * doc_id, then ONE source rollup — the spans side is duplicate-sized
    * so the join-back never dominates.
    */
  def dedupReport(spark: SparkSession, dir: String): DataFrame = {
    // r20: the span pass rides the cached plain window grid. The
    // per-doc token-count side keeps its OWN single segmentation pass:
    // it needs `source`, and widening the shared tokenizedDocs cache by
    // that column measurably demoted a text-family broadcast join (see
    // the [[TextOps.tokenizedDocs]] note) — one honest map pass beats a
    // corpus-sized join-back or a fatter shared cache.
    val docs = Tables.documents(spark, dir)
      .select("doc_id", "source", "text")
    val per = docs.select(col("doc_id"), col("source"),
      size(TextOps.segmentTokens(col("text"))).cast("long")
        .as("n_tokens"))
    val sp = substringSpansFromWindows(substrWindowsPlain(spark, dir))
      .groupBy("doc_id")
      .agg(sum(col("span_tokens")).as("dup_tokens"),
        max(col("span_tokens")).as("max_span"),
        count(lit(1)).as("n_spans"))
    per.join(sp, Seq("doc_id"), "left")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("n_spans").isNotNull, 1L).otherwise(0L))
          .as("n_docs_with_dup"),
        sum(col("n_tokens")).as("n_tokens"),
        sum(coalesce(col("dup_tokens"), lit(0L))).as("dup_tokens"),
        max(coalesce(col("max_span"), lit(0L))).as("max_span"))
      .select(col("source"), col("n_docs"), col("n_docs_with_dup"),
        col("n_tokens"), col("dup_tokens"),
        expr("CAST(dup_tokens * 1000000 DIV n_tokens AS BIGINT)")
          .as("dup_ppm"),
        col("max_span"))
  }

  /** Bloom-prefiltered decontamination — the scale path for when the
    * benchmark shingle set outgrows a broadcast hash table. Semantics are
    * IDENTICAL to [[decontaminate]] (it shares that oracle SQL): a Bloom
    * filter over the benchmark shingle ids (m = 2^16 bits, k = 3
    * xxhash64 probes) prunes the corpus shingle stream BEFORE the exact
    * sid join, and that join is pinned to sort-merge — the plan an
    * eval-suite-too-big-to-broadcast run would use. Bloom false positives
    * survive the prefilter but die in the exact join, so the output stays
    * exact; per-doc shingle totals aggregate off the unfiltered stream
    * and only the contaminated-doc-sized hit counts broadcast back.
    *
    * The bitmap is built with one bounded bit-OR aggregate (m/64 = 1024
    * rows to the driver — a dimension-sized collect, same class as
    * `q_embed_near_dup`'s 1-row grid probe) and ships to executors as a
    * foldable array literal, referenced by codegen as a constant: rows
    * never carry it. At 100 TB the prefilter is what keeps the exchange
    * affordable — only the contaminated fraction of corpus shingles plus
    * the ~(kn/m)^k false-positive trickle is shuffled, not every shingle
    * in the corpus.
    *
    * EAGER-BUILD semantics: constructing this query runs the bitmap
    * aggregation immediately (the collect is at DataFrame-construction
    * time), and the bitmap is a frozen snapshot of the benchmark set.
    * That is safe here because it reads the same memoized/cached
    * [[shingleIds]] snapshot the exact join reads — within a session the
    * two cannot diverge; a long-lived service rebuilding a corpus dir
    * must invalidate the memo AND rebuild this query, or a stale bitmap's
    * false negatives would silently drop real contamination.
    */
  val BloomBits = 1 << 16
  val BloomHashes = 3

  def decontaminateBloom(spark: SparkSession, dir: String): DataFrame = {
    val ids = shingleIds(spark, dir)
    val bench = ids.filter(col("doc_id") % DecontamBenchMod === 0)
      .select("sid").distinct()
    val positions = (0 until BloomHashes).map(i =>
      pmod(xxhash64(col("sid"), lit(i)), lit(BloomBits.toLong)))
    val words = new Array[Long](BloomBits / 64)
    bench.select(explode(array(positions: _*)).as("p"))
      .select(expr("CAST(p DIV 64 AS INT)").as("w"),
        expr("shiftleft(CAST(1 AS BIGINT), CAST(p % 64 AS INT))").as("b"))
      .groupBy("w").agg(bit_or(col("b")).as("bits"))
      .collect().foreach(r => words(r.getInt(0)) = r.getLong(1))
    val bloom = typedLit(words.toSeq)
    val corpus = ids.filter(col("doc_id") % DecontamBenchMod =!= 0)
    val probe = (0 until BloomHashes).foldLeft(corpus) { (d, i) =>
      d.withColumn(s"bp$i",
        pmod(xxhash64(col("sid"), lit(i)), lit(BloomBits.toLong)))
    }
    val bloomOk = (0 until BloomHashes).map { i =>
      get(bloom, expr(s"CAST(bp$i DIV 64 AS INT)")).bitwiseAND(
        expr(s"shiftleft(CAST(1 AS BIGINT), CAST(bp$i % 64 AS INT))")) =!=
        lit(0L)
    }.reduce(_ && _)
    val hits = probe.filter(bloomOk)
      .join(bench.hint("merge"), Seq("sid"))
      .groupBy("doc_id")
      .agg(countDistinct(col("sid")).as("n_hits"))
    corpus.groupBy("doc_id")
      .agg(countDistinct(col("sid")).as("n_shingles"))
      .join(broadcast(hits), Seq("doc_id"))
      .select(col("doc_id"), col("n_hits"), col("n_shingles"),
        round(col("n_hits").cast("double") / col("n_shingles"), 6)
          .as("contamination"))
  }

  /** Train/eval near-dup leakage gate: the verified MinHash near-dup
    * pairs ([[dedupMinhash]]), each endpoint labeled with its
    * [[Curation.hashSplit]] assignment, aggregated per (unordered) split
    * pair — any row whose two splits differ is contamination ACROSS the
    * split boundary, the leak that inflates held-out metrics even after
    * a clean random split (near-duplicates of training documents landing
    * in test; the reason production pipelines dedup BEFORE splitting).
    * Composes the two existing gates end to end: content-hash splitting
    * and LSH near-dup detection share no machinery, so their agreement
    * here is a genuine cross-check.
    *
    * Scale shape: the pair table is dup-sized (≪ corpus) and BROADCASTS
    * against the corpus-sized split labels — two broadcast joins, no
    * corpus shuffle; the final aggregate is 6 rows.
    */
  def splitLeakage(spark: SparkSession, dir: String): DataFrame = {
    val bucket = TextOps.portableFp(col("text"),
      Curation.FpBase1, Curation.FpMod1) % 100
    val split = when(bucket < Curation.SplitTrainPct, "train")
      .when(bucket < Curation.SplitValPct, "validation")
      .otherwise("test")
    val splits = dedupDocs(spark, dir).select(col("doc_id"), split.as("split"))
    val pairs = dedupMinhash(spark, dir)
    val withA = splits.withColumnRenamed("doc_id", "doc_a")
      .withColumnRenamed("split", "sa")
      .join(broadcast(pairs), Seq("doc_a"))
    splits.withColumnRenamed("doc_id", "doc_b")
      .withColumnRenamed("split", "sb")
      .join(broadcast(withA), Seq("doc_b"))
      .groupBy(least(col("sa"), col("sb")).as("split_a"),
        greatest(col("sa"), col("sb")).as("split_b"))
      .agg(count(lit(1)).cast("long").as("n_pairs"),
        round(max(col("jaccard")), 6).as("max_jaccard"))
  }

  /** Count-preserving dedup weights (the "soft dedup" form): one row per
    * SURVIVING document with the multiplicity its near-dup component had
    * in the raw corpus — keepers carry their component size, documents
    * with no near-dup carry 1, dropped duplicates are absent. Hard dedup
    * erases the corpus frequency signal (a document repeated 10 000
    * times usually MATTERS more, and some recipes upweight or
    * temperature-sample by multiplicity); this emits the weight column
    * that keeps that choice open downstream while still training on
    * each text once. Total weight provably equals raw corpus size (the
    * count-preservation invariant, asserted in tests).
    *
    * Scale shape: the component table is dup-sized (only docs with at
    * least one near-dup), so its size aggregate and both join-backs
    * broadcast; the corpus side is touched once, map-side, for the
    * weight-1 anti-join.
    */
  def dedupWeights(spark: SparkSession, dir: String): DataFrame = {
    val cl = dedupClusters(spark, dir)
    val sizes = cl.groupBy("component_root")
      .agg(count(lit(1)).as("weight"))
    val keepers = cl.filter(col("keep"))
      .join(broadcast(sizes), Seq("component_root"))
      .select(col("doc_id"), col("weight"))
    dedupDocs(spark, dir).select("doc_id")
      .join(broadcast(cl.select(col("doc_id"), col("keep"))),
        Seq("doc_id"), "left")
      .filter(col("keep").isNull)
      .select(col("doc_id"), lit(1L).as("weight"))
      .unionByName(keepers)
  }

  /** Chunk (paragraph) granularity for [[chunkDedup]]: non-overlapping
    * [[ChunkWords]]-token windows. Sized to the fixture's small
    * vocabulary so genuine cross-document repeats exist; a web corpus
    * dedupes real paragraphs (newline-split) or 50–100-token windows
    * with the same plan shape.
    */
  val ChunkWords = 4

  /** Chunk-level exact dedup with a keep-first policy — the APPLY step to
    * [[repeatedSpans]]'s boilerplate detection and the sub-document
    * sibling of [[dedupExact]]: C4/RefinedWeb-style pipelines drop every
    * repeated paragraph after its first occurrence (both across documents
    * and within one), not just whole-document copies. "First" is the
    * global (doc_id, position) order — a total, data-defined rule both
    * engines replay exactly.
    *
    * Scale shape: chunks never travel as text — the md5 fingerprint is
    * computed scan-side and only (doc_id, pos, fp) rows shuffle. Exactly
    * two exchanges: one on fp for the keep-first window (row_number over
    * a total order — each fingerprint's group is occurrence-sized), one
    * on doc_id for the per-doc rollup. No dictionary, no self-join; the
    * pair space never materializes (the win over pairwise exact-substring
    * comparison at 100 TB).
    */
  def chunkDedup(spark: SparkSession, dir: String): DataFrame = {
    val chunks = Tables.documents(spark, dir)
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .select(col("doc_id"),
        explode(sequence(lit(1), size(col("t")), lit(ChunkWords))).as("p"),
        col("t"))
      .select(col("doc_id"), col("p"),
        md5(concat_ws(" ", slice(col("t"), col("p"), lit(ChunkWords))))
          .as("fp"))
    val w = Window.partitionBy("fp").orderBy("doc_id", "p")
    chunks.withColumn("rn", row_number().over(w))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("rn") === 1, 1L).otherwise(0L)).as("n_kept"))
      .select(col("doc_id"), col("n_chunks"), col("n_kept"),
        (col("n_chunks") - col("n_kept")).as("n_dup"))
  }

  /** A "generated" output is called memorized when it carries a run of
    * at least this many CONSECUTIVE corpus-matched shingles — the
    * Lee-et-al span convention applied in the reverse direction
    * (model output → training corpus instead of corpus → corpus).
    */
  val MemorizedRunMin = 8

  /** Memorization / regurgitation audit — decontamination's MIRROR:
    * decontamination asks "did benchmark text leak INTO the corpus?",
    * this asks "does (model) OUTPUT text reproduce the corpus?" — the
    * training-data-extraction check an eval pipeline runs over
    * generations before publishing a model. The "generated" set is
    * synthesized deterministically so both engines derive it
    * identically: verbatim corpus copies (full regurgitation), a
    * corpus-prefix + novel-tail splice (partial), and fully novel
    * rows. Every generated doc's positional 3-token shingles LEFT-join
    * the corpus shingle-id stream; the verdict columns are the novel
    * fraction in exact ppm and the LONGEST CONSECUTIVE matched run
    * (gaps-and-islands over positions inside a doc-bounded window) —
    * a doc is `memorized` at ≥[[MemorizedRunMin]] consecutive matched
    * shingles, the span convention, because scattered trigram hits are
    * ordinary language while a long verbatim run is regurgitation.
    *
    * 100 TB shape: corpus side is the memoized (doc_id, sid) stream's
    * distinct-sid projection (one linear exchange shared with every
    * dedup consumer); generated side is output-sized; the join is a
    * plain sid equi-join and the run window partitions per generated
    * doc.
    */
  def memorizationAudit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= 30)
    val copies = docs.filter(col("doc_id") % 97 === 0)
      .select((col("doc_id") + 7000000L).as("gen_id"),
        concat_ws(" ", col("w")).as("text"))
    val splices = docs.filter(col("doc_id") % 101 === 0)
      .select((col("doc_id") + 8000000L).as("gen_id"),
        concat(concat_ws(" ", slice(col("w"), 1, 15)),
          lit(" " + (1 to 16).map(i => s"novel$i").mkString(" ")))
          .as("text"))
    val novel = Seq(
      (9000001L, (1 to 40).map(i => s"fresh$i").mkString(" ")),
      (9000002L, (1 to 33).map(i => s"unseen$i").mkString(" ")))
      .toDF("gen_id", "text")
    val gen = copies.unionByName(splices).unionByName(novel)
      .select(col("gen_id"), split(col("text"), " ").as("t"))
      .select(col("gen_id"),
        explode(sequence(lit(1), size(col("t")) - 2)).as("p"),
        col("t"))
      .select(col("gen_id"), col("p"),
        portableIdUtf8(concat_ws(" ",
          element_at(col("t"), col("p")),
          element_at(col("t"), col("p") + 1),
          element_at(col("t"), col("p") + 2))).as("sid"))
    val corpusSids = shingleIds(spark, dir).select("sid").distinct()
      .withColumn("hit", lit(1))
    val marked = gen.join(corpusSids, Seq("sid"), "left")
      .select(col("gen_id"), col("p"), col("hit").isNotNull.as("m"))
    // gaps-and-islands: consecutive matched positions share
    // p − row_number(matched within doc); the longest island is the run
    val isl = Window.partitionBy("gen_id").orderBy("p")
    val runs = marked.filter(col("m"))
      .withColumn("grp", col("p") - row_number().over(isl))
      .groupBy("gen_id", "grp").agg(count(lit(1)).as("run"))
      .groupBy("gen_id").agg(max(col("run")).as("max_run"))
    marked.groupBy("gen_id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("m"), 1L).otherwise(0L)).as("n_matched"))
      .join(runs, Seq("gen_id"), "left")
      .select(col("gen_id"), col("n_shingles"), col("n_matched"),
        expr("CAST((n_shingles - n_matched) * 1000000 DIV n_shingles" +
          " AS BIGINT)").as("novelty_ppm"),
        coalesce(col("max_run"), lit(0L)).as("max_matched_run"),
        (coalesce(col("max_run"), lit(0L)) >= MemorizedRunMin)
          .as("memorized"))
  }

  /** Shingle-frequency profile — the measurement that justifies (or
    * indicts) the [[RareShingleMaxFreq]] blocking constant
    * [[dedupNgramJaccard]] depends on: per power-of-two frequency
    * bucket, how many DISTINCT shingles live there and how much
    * instance MASS they carry, plus each bucket's blocking verdict
    * (`blockable` = the whole bucket sits at or under the rare floor).
    * Rare-shingle blocking is sound only while near-identical docs
    * share LOW-frequency shingles — a corpus whose mass migrates into
    * high buckets (template boilerplate, short repetitive docs) is one
    * where the exact-side candidate generation degrades, and this
    * table is the early warning. The bucket index reuses the
    * integer-corrected floor(log2) (see `TextOps.degreeDist`); one sid
    * exchange + a bucket-count aggregate.
    */
  def shingleProfile(spark: SparkSession, dir: String): DataFrame = {
    val b0 = "CAST(floor(log2(freq)) AS INT)"
    val bkt = s"$b0 + IF(freq >= shiftleft(CAST(1 AS BIGINT)," +
      s" $b0 + 1), 1, 0) - IF(freq < shiftleft(CAST(1 AS BIGINT)," +
      s" $b0), 1, 0)"
    shingleIds(spark, dir)
      .groupBy("sid").agg(count(lit(1)).as("freq"))
      .select(col("freq"), expr(bkt).as("bucket"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_shingles"),
        sum(col("freq")).as("n_instances"),
        min(col("freq")).as("min_freq"),
        max(col("freq")).as("max_freq"))
      .select(col("bucket"),
        expr("shiftleft(CAST(1 AS BIGINT), bucket)").as("freq_lo"),
        col("n_shingles"), col("n_instances"), col("min_freq"),
        col("max_freq"),
        (col("max_freq") <= RareShingleMaxFreq).as("blockable"))
  }

  /** Content-defined-chunking divisor: a token closes a chunk when its
    * portable hash lands in 1/[[CdcMod]] of the space, so the EXPECTED
    * chunk length is [[CdcMod]] tokens and boundaries are properties of
    * the CONTENT, not of positions.
    */
  val CdcMod = 8L

  /** Planted rows for [[cdcDedup]]: a 64-token base, the same text with
    * ONE token prepended (every fixed-grid window shifts, so
    * [[chunkDedup]]'s aligned fingerprints all change — the classic
    * storage-dedup failure CDC exists to fix), and a half-overlapping
    * tail-divergent variant.
    */
  private[graft] val CdcPlantedRows: Seq[(Long, String)] = Seq(
    (996001L, (1 to 64).map(i => f"cdc$i%02d").mkString(" ")),
    (996002L, "shift " + (1 to 64).map(i => f"cdc$i%02d").mkString(" ")),
    (996003L, (1 to 32).map(i => f"cdc$i%02d").mkString(" ") + " " +
      (1 to 32).map(i => f"tail$i%02d").mkString(" ")))

  /** Content-defined chunk dedup — the shift-resistant sibling of
    * [[chunkDedup]]: fixed-grid windows change EVERY fingerprint when a
    * single token is inserted upstream (the planted 996002 row shares
    * ZERO aligned chunks with its base), while CDC boundaries are
    * content positions (hash-marked tokens), so an insertion only
    * perturbs the one chunk it lands in and every later chunk
    * re-aligns — the rsync/LBFS boundary trick applied to token
    * streams. Chunk ids are a per-doc prefix count of marked tokens
    * (ONE doc-partitioned window over token rows — bounded by document
    * length at any corpus size), chunk fingerprints are md5 of the
    * reassembled token run ([[chunkDedup]]'s portable choice), and the
    * keeper rule mirrors chunkDedup exactly (first (doc_id, start)
    * wins per fingerprint). Unbounded chunk length is possible when no
    * token marks (a production CDC adds a max-length forced split; the
    * expected length is [[CdcMod]] tokens and `max_chunk_tokens` keeps
    * the tail visible).
    *
    * 100 TB shape: one token explode + one doc-bounded window + one
    * (doc, chunk) aggregate + the fp keeper window — all linear, no
    * corpus-side driver state; identical plan class to chunkDedup plus
    * the boundary window.
    */
  def cdcDedup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir).select("doc_id", "text")
      .unionByName(CdcPlantedRows.toDF("doc_id", "text"))
    val tok = docs
      .select(col("doc_id"),
        posexplode(split(col("text"), " ")).as(Seq("p0", "tok")))
      .select(col("doc_id"), (col("p0") + 1).as("p"), col("tok"),
        when(graft.functions.StringFunctions.utf8_poly_id(
          col("tok"), IdMod) % CdcMod === 0, 1L).otherwise(0L).as("mk"))
    val win = Window.partitionBy("doc_id").orderBy("p")
      .rowsBetween(Window.unboundedPreceding, -1)
    val withCid = tok.withColumn("cid",
      coalesce(sum(col("mk")).over(win), lit(0L)))
    val chunks = withCid.groupBy("doc_id", "cid")
      .agg(min(col("p")).as("start_p"),
        count(lit(1)).as("n_chunk_tokens"),
        md5(concat_ws(" ", transform(
          array_sort(collect_list(struct(col("p"), col("tok")))),
          s => s.getField("tok")))).as("fp"))
    val keep = Window.partitionBy("fp").orderBy("doc_id", "start_p")
    chunks.withColumn("rn", row_number().over(keep))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("rn") === 1, 1L).otherwise(0L)).as("n_kept"),
        sum(col("n_chunk_tokens")).as("n_tokens"),
        max(col("n_chunk_tokens")).as("max_chunk_tokens"))
      .select(col("doc_id"), col("n_chunks"), col("n_kept"),
        (col("n_chunks") - col("n_kept")).as("n_dup"),
        col("n_tokens"), col("max_chunk_tokens"))
  }

  /** Transitivity diagnostic over the verified near-dup pair graph:
    * nodes/edges/wedges/triangles and the transitivity ratio
    * 3·triangles/wedges in integer ppm. This is the measurement that
    * justifies (or indicts) cluster-based dedup: [[dedupClusters]] keeps
    * ONE doc per CONNECTED component, which over-merges exactly when
    * near-dup edges are not transitive — a low ratio here says "audit the
    * clusters before deleting", a high one says component-collapse is
    * safe. Standard graph practice (triangle/wedge closure as cluster
    * quality evidence).
    *
    * Scale shape: the input is [[dedupMinhash]]'s OUTPUT — dup-pair-sized,
    * not corpus-sized — so the triangle join runs on the small derived
    * graph (every edge a<b; wedge rows (a<b<c) check closure via a
    * LEFT SEMI join, so each triangle counts exactly once and no
    * wedge-row duplication survives the join). Degree/wedge counts are
    * one map-side-combined aggregation. On a giant dup graph the same
    * query applies after degree-ordering edge orientation (each edge
    * oriented low-degree→high-degree bounds wedge fan-out by √m) — the
    * a<b id orientation here is that pattern with ids standing in for
    * degree rank. Integer arithmetic end-to-end (ppm by BIGINT division)
    * keeps both engines bit-identical.
    */
  def dupTransitivity(spark: SparkSession, dir: String): DataFrame = {
    val e = dedupMinhash(spark, dir)
      .select(col("doc_a").as("a"), col("doc_b").as("b"))
    val deg = e.select(col("a").as("v"))
      .union(e.select(col("b").as("v")))
      .groupBy("v").agg(count(lit(1)).as("deg"))
    val nw = deg.agg(count(lit(1)).as("n_nodes"),
      sum(expr("deg * (deg - 1) DIV 2")).as("n_wedges"))
    val ne = e.agg(count(lit(1)).as("n_edges"))
    val tr = e
      .join(e.select(col("a").as("b"), col("b").as("c")), "b")
      .join(e.select(col("a"), col("b").as("c")), Seq("a", "c"),
        "left_semi")
      .agg(count(lit(1)).as("n_triangles"))
    nw.crossJoin(broadcast(ne)).crossJoin(broadcast(tr))
      .select(col("n_nodes"), col("n_edges"), col("n_wedges"),
        col("n_triangles"),
        expr("CAST(3 * n_triangles * 1000000 DIV NULLIF(n_wedges, 0)" +
          " AS BIGINT)").as("transitivity_ppm"))
  }

  /** Exact cross-snapshot shingle overlap — dataset versioning's first
    * question ("how much of snapshot B is already in snapshot A?"),
    * answered EXACTLY rather than by sketch. Snapshots are the
    * deterministic doc_id-parity halves of the dedup corpus (the
    * stand-in for two crawl versions sharing most of their content).
    * Reports distinct-shingle set sizes per side, the exact
    * intersection/union, and integer-ppm Jaccard + per-side containment
    * (the asymmetric "B-inside-A" number a curation run actually acts
    * on).
    *
    * 100 TB shape: side membership is a map-side bit on the memoized
    * (doc_id, sid) stream; ONE exchange on sid folds each shingle to a
    * 2-bit presence row with map-side partial max, and the final
    * single-row agg is the usual partial-combine funnel. No join of the
    * two sides, no broadcast of either set (which grow with the corpus)
    * — the sid-hash partition IS the set intersection.
    */
  def corpusOverlap(spark: SparkSession, dir: String): DataFrame =
    shingleIds(spark, dir)
      .select(col("sid"),
        when(col("doc_id") % 2 === 0, 1L).otherwise(0L).as("a"),
        when(col("doc_id") % 2 === 1, 1L).otherwise(0L).as("b"))
      .groupBy("sid")
      .agg(max(col("a")).as("in_a"), max(col("b")).as("in_b"))
      .agg(sum(col("in_a")).as("n_a"), sum(col("in_b")).as("n_b"),
        sum(col("in_a") * col("in_b")).as("n_inter"),
        count(lit(1)).as("n_union"))
      .select(col("n_a"), col("n_b"), col("n_inter"), col("n_union"),
        expr("CAST(n_inter * 1000000 DIV n_union AS BIGINT)")
          .as("jaccard_ppm"),
        expr("CAST(n_inter * 1000000 DIV NULLIF(n_a, 0) AS BIGINT)")
          .as("containment_a_ppm"),
        expr("CAST(n_inter * 1000000 DIV NULLIF(n_b, 0) AS BIGINT)")
          .as("containment_b_ppm"))

  val queries: Map[String, Q] = Map(
    "q_corpus_overlap" -> corpusOverlap _,
    "q_chunk_dedup" -> chunkDedup _,
    "q_cdc_dedup" -> cdcDedup _,
    "q_shingle_profile" -> shingleProfile _,
    "q_memorization_audit" -> memorizationAudit _,
    "q_dup_transitivity" -> dupTransitivity _,
    "q_dedup_exact" -> dedupExact _,
    "q_dedup_clusters" -> dedupClusters _,
    "q_dedup_minhash" -> dedupMinhash _,
    "q_dedup_sensitivity" -> dedupSensitivity _,
    "q_dup_source_matrix" -> dupSourceMatrix _,
    "q_lsh_recall" -> lshRecall _,
    "q_lsh_recall_sampled" -> lshRecallSampled _,
    "q_dedup_incremental" -> dedupIncremental _,
    "q_dedup_incremental_bucketed" -> dedupIncrementalBucketed _,
    "q_index_forget" -> indexForget _,
    "q_dedup_ngram_jaccard" -> dedupNgramJaccard _,
    "q_dedup_containment" -> dedupContainment _,
    "q_dedup_simhash" -> dedupSimhash _,
    "q_simhash_pairs" -> simhashPairs _,
    "q_decontaminate" -> decontaminate _,
    "q_decontaminate_bloom" -> decontaminateBloom _,
    "q_repeated_spans" -> repeatedSpans _,
    "q_substring_dedup" -> substringDedup _,
    "q_substring_scrub" -> substringScrub _,
    "q_dedup_report" -> dedupReport _,
    "q_substring_incremental" -> substringIncremental _,
    "q_substring_incremental_bucketed" -> substringIncrementalBucketed _,
    "q_split_leakage" -> splitLeakage _,
    "q_dedup_weights" -> dedupWeights _,
    "q_utf8_fingerprint" -> utf8Fingerprint _)

  // ---- oracle SQL (generated to mirror the constants above) ----

  /** DuckDB twin of [[dedupDocs]]: fixture corpus + the planted
    * multilingual VALUES, generated from the same literals.
    */
  private val docsCte: String = {
    val values = MultilingualDedupRows.map { case (id, t) =>
      s"($id, '${t.replace("'", "''")}')"
    }.mkString(", ")
    s"""docs AS (SELECT doc_id, text FROM documents
       |  UNION ALL SELECT * FROM (VALUES $values) v(doc_id, text))""".stripMargin
  }

  /** DuckDB twin of [[shingles]] at [[ShingleGridVersion]] (v2): NFC +
    * script-aware segmentation, then 3-grams — kept in lockstep with the
    * engine builder so every dedup oracle replays the same grid.
    */
  private val shingleSql =
    s"""$docsCte,
      |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(
      |    range(1, len(t) - 1),
      |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS shingle
      |  FROM (SELECT doc_id,
      |      ${TextOps.segmentSql("nfc_normalize(text)")} AS t FROM docs)
      |  WHERE len(t) >= 3),
      |ds AS (SELECT doc_id, ${idUtf8Sql("shingle")} AS sid FROM sh),
      |sets AS (SELECT doc_id, list_distinct(list(sid)) AS sids,
      |  count(*) AS n FROM ds GROUP BY doc_id)""".stripMargin

  private[graft] def verifySql(threshold: Double): String =
    s"""SELECT doc_a, doc_b,
       |  round(CAST(len(list_intersect(sa.sids, sb.sids)) AS DOUBLE) /
       |    (sa.n + sb.n - len(list_intersect(sa.sids, sb.sids))), 6)
       |    AS jaccard
       |FROM cand JOIN sets sa ON sa.doc_id = doc_a
       |JOIN sets sb ON sb.doc_id = doc_b
       |WHERE CAST(len(list_intersect(sa.sids, sb.sids)) AS DOUBLE) /
       |  (sa.n + sb.n - len(list_intersect(sa.sids, sb.sids))) >= $threshold
       |""".stripMargin

  /** DuckDB twins of [[signatures]]/[[bandRows]], shared by the full-pass
    * and incremental oracle CTEs.
    */
  private val sigExprs: String = HashA.zip(HashB).zipWithIndex.map {
    case ((a, b), i) => s"min((sid * $a + $b) % $P) AS h$i"
  }.mkString(", ")

  private val bandSelects: String = (0 until Bands).map { bnd =>
    def key(b: Int) = (0 until Rows)
      .map(r => s"CAST(h${b * Rows + r} AS VARCHAR)")
      .mkString(" || ':' || ")
    s"SELECT doc_id, $bnd AS band, ${key(bnd)} AS bkey, " +
      s"${key((bnd + 1) % Bands)} AS bkey2 FROM sig"
  }.mkString(" UNION ALL ")

  /** Shared CTE body: shingles -> signatures -> bands -> candidates. */
  private[graft] val minhashCtes: String = {
    val sigKeyList = (0 until Bands * Rows).map(i => s"h$i").mkString(", ")
    // gb/fsig/star/sub mirror the Spark-side guard exactly (same
    // $LshBucketCap, same min-doc links, same second band family) so both
    // engines generate the identical candidate set
    s"""$shingleSql,
       |sig AS (SELECT doc_id, $sigExprs FROM ds GROUP BY doc_id),
       |bands AS ($bandSelects),
       |sized AS (SELECT doc_id, band, bkey, bkey2,
       |  count(*) OVER (PARTITION BY band, bkey) AS bsize FROM bands),
       |gb AS (SELECT doc_id, band, bkey FROM sized
       |  WHERE bsize <= $LshBucketCap),
       |fsig AS (SELECT doc_a, doc_b FROM (
       |  SELECT min(doc_id) OVER (PARTITION BY $sigKeyList) AS doc_a,
       |    doc_id AS doc_b FROM sig) WHERE doc_a <> doc_b),
       |star AS (SELECT doc_a, doc_b FROM (
       |  SELECT min(doc_id) OVER (PARTITION BY band, bkey) AS doc_a,
       |    doc_id AS doc_b FROM sized WHERE bsize > $LshBucketCap)
       |  WHERE doc_a <> doc_b),
       |sub AS (SELECT doc_id, band, bkey, bkey2 FROM (
       |  SELECT doc_id, band, bkey, bkey2,
       |    count(*) OVER (PARTITION BY band, bkey, bkey2) AS s2
       |  FROM sized WHERE bsize > $LshBucketCap)
       |  WHERE s2 <= $LshBucketCap),
       |cand AS (SELECT DISTINCT doc_a, doc_b FROM (
       |  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b
       |  FROM gb x JOIN gb y ON x.band = y.band AND x.bkey = y.bkey
       |    AND x.doc_id < y.doc_id
       |  UNION ALL SELECT doc_a, doc_b FROM fsig
       |  UNION ALL SELECT doc_a, doc_b FROM star
       |  UNION ALL SELECT x.doc_id, y.doc_id
       |  FROM sub x JOIN sub y ON x.band = y.band AND x.bkey = y.bkey
       |    AND x.bkey2 = y.bkey2 AND x.doc_id < y.doc_id))""".stripMargin
  }

  private val minhashSql: String =
    s"WITH $minhashCtes\n${verifySql(MinhashThreshold)}"

  /** DuckDB twin of [[dedupIncremental]]: same slice predicates (`= 0` /
    * `> 0`), same corpus-bucket cap, same oversize star-link, same
    * verification — candidate sets stay bit-identical across engines.
    */
  private val incrementalSql: String =
    s"""WITH $shingleSql,
       |sig AS (SELECT doc_id, $sigExprs FROM ds GROUP BY doc_id),
       |bands AS ($bandSelects),
       |delta AS (SELECT doc_id, band, bkey FROM bands
       |  WHERE doc_id % $IncrementalDeltaMod = 0),
       |corpus AS (SELECT doc_id, band, bkey,
       |    count(*) OVER (PARTITION BY band, bkey) AS bsize
       |  FROM bands WHERE doc_id % $IncrementalDeltaMod > 0),
       |cand AS (SELECT DISTINCT doc_a, doc_b FROM (
       |  SELECT d.doc_id AS doc_a, c.doc_id AS doc_b
       |  FROM delta d JOIN corpus c ON d.band = c.band AND d.bkey = c.bkey
       |  WHERE c.bsize <= $LshBucketCap
       |  UNION ALL
       |  SELECT d.doc_id, o.doc_b
       |  FROM delta d JOIN (SELECT band, bkey, min(doc_id) AS doc_b
       |    FROM corpus WHERE bsize > $LshBucketCap GROUP BY band, bkey) o
       |    ON d.band = o.band AND d.bkey = o.bkey)),
       |ver AS (${verifySql(MinhashThreshold)})
       |SELECT doc_a AS doc_new, doc_b AS doc_corpus, jaccard FROM ver""".stripMargin

  /** DuckDB twin of [[indexForget]] — but deliberately NOT the same
    * algorithm: the oracle computes a FULL REBUILD of the index on the
    * retained corpus (and the before/clean/dirty accounting
    * independently), so the hash gate passing proves the engine's
    * clean-pass-through + dirty-rebuild patch is extensionally equal to
    * rebuilding from scratch.
    */
  private val indexForgetSql: String = {
    val rowStr =
      "CAST(band AS VARCHAR) || ':' || bkey || ':' || " +
        "CAST(doc_b AS VARCHAR)"
    s"""WITH $shingleSql,
       |sig AS (SELECT doc_id, $sigExprs FROM ds GROUP BY doc_id),
       |bands0 AS ($bandSelects),
       |corpus AS (SELECT doc_id, band, bkey FROM bands0
       |  WHERE doc_id % $IncrementalDeltaMod > 0),
       |sizedb AS (SELECT doc_id, band, bkey,
       |    count(*) OVER (PARTITION BY band, bkey) AS bsize FROM corpus),
       |idx AS (SELECT band, bkey, doc_id AS doc_b FROM sizedb
       |    WHERE bsize <= $LshBucketCap
       |  UNION ALL SELECT band, bkey, min(doc_id) AS doc_b FROM sizedb
       |    WHERE bsize > $LshBucketCap GROUP BY band, bkey),
       |delb AS (SELECT doc_id, band, bkey FROM corpus
       |  WHERE doc_id % $ForgetMod = 0),
       |dirty AS (SELECT DISTINCT band, bkey FROM delb),
       |ret AS (SELECT doc_id, band, bkey FROM corpus
       |  WHERE doc_id % $ForgetMod <> 0),
       |sizedr AS (SELECT doc_id, band, bkey,
       |    count(*) OVER (PARTITION BY band, bkey) AS bsize FROM ret),
       |reb AS (SELECT band, bkey, doc_id AS doc_b FROM sizedr
       |    WHERE bsize <= $LshBucketCap
       |  UNION ALL SELECT band, bkey, min(doc_id) AS doc_b FROM sizedr
       |    WHERE bsize > $LshBucketCap GROUP BY band, bkey),
       |cl AS (SELECT i.band, i.bkey, i.doc_b FROM idx i
       |  WHERE NOT EXISTS (SELECT 1 FROM dirty d
       |    WHERE d.band = i.band AND d.bkey = i.bkey)),
       |rd AS (SELECT r.band, r.bkey, r.doc_b FROM reb r
       |  WHERE EXISTS (SELECT 1 FROM dirty d
       |    WHERE d.band = r.band AND d.bkey = r.bkey)),
       |fp AS (SELECT ${idUtf8Sql(rowStr)} AS hv FROM reb)
       |SELECT
       |  (SELECT CAST(count(*) AS BIGINT) FROM idx) AS n_rows_before,
       |  (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) FROM delb)
       |    AS n_deleted_docs,
       |  (SELECT CAST(count(*) AS BIGINT) FROM dirty)
       |    AS n_dirty_buckets,
       |  (SELECT CAST(count(*) AS BIGINT) FROM cl) AS n_clean_rows,
       |  (SELECT CAST(count(*) AS BIGINT) FROM rd) AS n_rebuilt_rows,
       |  (SELECT CAST(count(*) AS BIGINT) FROM reb) AS n_rows_after,
       |  (SELECT CAST(sum(CAST(hv AS DECIMAL(38,0))) % $IdMod AS BIGINT)
       |    FROM fp) AS fp_after""".stripMargin
  }

  /** Connected components as a recursive transitive closure (fixture dup
    * clusters are tiny, so the closure is small); root = min reachable id.
    */
  private val clustersSql: String =
    s"""WITH RECURSIVE $minhashCtes,
       |pairs AS (${verifySql(MinhashThreshold)}),
       |edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
       |  UNION SELECT doc_b, doc_a FROM pairs),
       |reach(a, b) AS (SELECT a, b FROM edges
       |  UNION SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
       |    WHERE e.b <> r.a)
       |SELECT a AS doc_id, least(a, min(b)) AS component_root,
       |  a = least(a, min(b)) AS keep
       |FROM reach GROUP BY a""".stripMargin

  /** DuckDB twin of [[dedupWeights]]: the clusters closure re-labeled as
    * component sizes, keepers joined to their size, the no-dup remainder
    * anti-joined to weight 1.
    */
  private val dedupWeightsSql: String =
    s"""WITH RECURSIVE $minhashCtes,
       |pairs AS (${verifySql(MinhashThreshold)}),
       |edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
       |  UNION SELECT doc_b, doc_a FROM pairs),
       |reach(a, b) AS (SELECT a, b FROM edges
       |  UNION SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
       |    WHERE e.b <> r.a),
       |comp AS (SELECT a AS doc_id, least(a, min(b)) AS root
       |  FROM reach GROUP BY a),
       |sizes AS (SELECT root, CAST(count(*) AS BIGINT) AS weight
       |  FROM comp GROUP BY root)
       |SELECT c.doc_id, s.weight FROM comp c
       |JOIN sizes s ON c.root = s.root WHERE c.doc_id = c.root
       |UNION ALL
       |SELECT d.doc_id, CAST(1 AS BIGINT) AS weight FROM docs d
       |LEFT JOIN comp c ON d.doc_id = c.doc_id
       |WHERE c.doc_id IS NULL""".stripMargin

  private val ngramJaccardSql: String =
    s"""WITH $shingleSql,
       |rare AS (SELECT sid FROM ds GROUP BY sid
       |  HAVING count(*) <= $RareShingleMaxFreq),
       |rds AS (SELECT doc_id, sid FROM ds JOIN rare USING (sid)),
       |cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |  FROM rds x JOIN rds y ON x.sid = y.sid AND x.doc_id < y.doc_id)
       |${verifySql(JaccardThreshold)}""".stripMargin

  /** DuckDB twin of [[simhashSigs]]: CTE text from a preceding `docs`
    * CTE to `sigs(doc_id, <sigCol>)`, the `bits`-wide SimHash generated
    * from the same constants.
    */
  private def simhashSigSqlCtes(bits: Int, sigCol: String): String = {
    val bitSums = (0 until bits).map { j =>
      val a = HashA(j % HashA.size)
      val b = HashB(j % HashB.size)
      s"sum(((tid * $a + $b + $j) % $P) % 2 * 2 - 1) AS s$j"
    }.mkString(", ")
    val sig = (0 until bits)
      .map(j => s"CASE WHEN s$j > 0 THEN ${1L << j} ELSE 0 END")
      .mkString(" + ")
    s"""toks AS (SELECT doc_id,
       |    unnest(list_distinct(string_split(text, ' '))) AS tok
       |  FROM docs),
       |dt AS (SELECT doc_id, ${idUtf8Sql("tok")} AS tid FROM toks),
       |sums AS (SELECT doc_id, $bitSums FROM dt GROUP BY doc_id),
       |sigs AS (SELECT doc_id, CAST($sig AS BIGINT) AS $sigCol FROM sums)"""
      .stripMargin
  }

  private val simhashSql: String =
    s"""WITH $docsCte,
       |${simhashSigSqlCtes(16, "simhash16")}
       |SELECT doc_id, simhash16,
       |  count(*) OVER (PARTITION BY simhash16) AS n_same_sig FROM sigs""".stripMargin

  /** DuckDB twin of [[simhashPairs]]: [[simhashSigSqlCtes]] at
    * [[SimPairsBits]] → [[bandedPairsSqlCtes]].
    */
  private val simhashPairsSql: String =
    s"""WITH $docsCte,
       |${simhashSigSqlCtes(SimPairsBits, "sig")},
       |${bandedPairsSqlCtes(SimPairsBands, SimPairsBandBits,
            SimPairsMaxHamming)}
       |SELECT doc_a, doc_b, hamming FROM pairs""".stripMargin

  private val decontaminateSql: String =
    s"""WITH $shingleSql,
       |bench AS (SELECT DISTINCT sid FROM ds
       |  WHERE doc_id % $DecontamBenchMod = 0),
       |marked AS (SELECT d.doc_id, d.sid, b.sid IS NOT NULL AS hit
       |  FROM ds d LEFT JOIN bench b USING (sid)
       |  WHERE d.doc_id % $DecontamBenchMod <> 0)
       |SELECT doc_id,
       |  count(DISTINCT CASE WHEN hit THEN sid END) AS n_hits,
       |  count(DISTINCT sid) AS n_shingles,
       |  round(CAST(count(DISTINCT CASE WHEN hit THEN sid END) AS DOUBLE)
       |    / count(DISTINCT sid), 6) AS contamination
       |FROM marked GROUP BY doc_id
       |HAVING count(DISTINCT CASE WHEN hit THEN sid END) >= 1""".stripMargin

  val oracles: Map[String, String] = Map(
    "q_chunk_dedup" ->
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS w
         |  FROM documents),
         |ch AS (SELECT doc_id, p,
         |    md5(array_to_string(w[p : p + ${ChunkWords - 1}], ' ')) AS fp
         |  FROM t, LATERAL (SELECT
         |    unnest(range(1, len(w) + 1, $ChunkWords)) AS p)),
         |r AS (SELECT doc_id,
         |    row_number() OVER (PARTITION BY fp ORDER BY doc_id, p) AS rn
         |  FROM ch)
         |SELECT doc_id, count(*) AS n_chunks,
         |  CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_kept,
         |  CAST(count(*) - sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_dup
         |FROM r GROUP BY doc_id""".stripMargin,
    "q_cdc_dedup" -> {
      val values = CdcPlantedRows.map { case (id, t) =>
        s"($id, ${TextOps.sqlLit(t)})"
      }.mkString(", ")
      s"""WITH docs AS (SELECT doc_id, text FROM documents
         |  UNION ALL SELECT * FROM (VALUES $values) v(doc_id, text)),
         |t AS (SELECT doc_id, string_split(text, ' ') AS w FROM docs),
         |tk AS (SELECT doc_id, p, w[p] AS tok,
         |    CASE WHEN ${idUtf8Sql("w[p]")} % $CdcMod = 0
         |      THEN 1 ELSE 0 END AS mk
         |  FROM t, LATERAL (SELECT
         |    unnest(range(1, len(w) + 1)) AS p)),
         |c AS (SELECT doc_id, p, tok,
         |    coalesce(sum(mk) OVER (PARTITION BY doc_id ORDER BY p
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      AS cid
         |  FROM tk),
         |ch AS (SELECT doc_id, cid, min(p) AS start_p,
         |    CAST(count(*) AS BIGINT) AS n_chunk_tokens,
         |    md5(string_agg(tok, ' ' ORDER BY p)) AS fp
         |  FROM c GROUP BY doc_id, cid),
         |r AS (SELECT doc_id, n_chunk_tokens,
         |    row_number() OVER (PARTITION BY fp ORDER BY doc_id, start_p)
         |      AS rn
         |  FROM ch)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
         |  CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_kept,
         |  CAST(count(*) - sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_dup,
         |  CAST(sum(n_chunk_tokens) AS BIGINT) AS n_tokens,
         |  CAST(max(n_chunk_tokens) AS BIGINT) AS max_chunk_tokens
         |FROM r GROUP BY doc_id""".stripMargin
    },
    "q_memorization_audit" -> {
      val novelTail = (1 to 16).map(i => s"novel$i").mkString(" ")
      val fresh = (1 to 40).map(i => s"fresh$i").mkString(" ")
      val unseen = (1 to 33).map(i => s"unseen$i").mkString(" ")
      s"""WITH $shingleSql,
         |gd AS (SELECT doc_id, string_split(text, ' ') AS w
         |  FROM documents WHERE len(string_split(text, ' ')) >= 30),
         |g0 AS (
         |  SELECT CAST(doc_id + 7000000 AS BIGINT) AS gen_id,
         |      array_to_string(w, ' ') AS text
         |    FROM gd WHERE doc_id % 97 = 0
         |  UNION ALL
         |  SELECT CAST(doc_id + 8000000 AS BIGINT),
         |      array_to_string(w[1:15], ' ') || ' ' || '$novelTail'
         |    FROM gd WHERE doc_id % 101 = 0
         |  UNION ALL
         |  SELECT CAST(gen_id AS BIGINT), text FROM (VALUES
         |    (9000001, '$fresh'), (9000002, '$unseen')) v(gen_id, text)),
         |g AS (SELECT gen_id, string_split(text, ' ') AS t FROM g0),
         |gp AS (SELECT gen_id, unnest(range(1, len(t) - 1)) AS p, t
         |  FROM g),
         |gs AS (SELECT gen_id, p,
         |    ${idUtf8Sql("t[p] || ' ' || t[p+1] || ' ' || t[p+2]")}
         |      AS sid
         |  FROM gp),
         |cs AS (SELECT DISTINCT sid FROM ds),
         |mk AS (SELECT gen_id, p, cs.sid IS NOT NULL AS m
         |  FROM gs LEFT JOIN cs ON gs.sid = cs.sid),
         |rn AS (SELECT gen_id,
         |    p - row_number() OVER (PARTITION BY gen_id ORDER BY p)
         |      AS grp
         |  FROM mk WHERE m),
         |mr AS (SELECT gen_id, CAST(max(run) AS BIGINT) AS max_run
         |  FROM (SELECT gen_id, grp, count(*) AS run FROM rn
         |    GROUP BY gen_id, grp) GROUP BY gen_id),
         |agg AS (SELECT gen_id, CAST(count(*) AS BIGINT) AS n_shingles,
         |    CAST(sum(CASE WHEN m THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_matched
         |  FROM mk GROUP BY gen_id)
         |SELECT a.gen_id, n_shingles, n_matched,
         |  CAST((n_shingles - n_matched) * 1000000 // n_shingles
         |    AS BIGINT) AS novelty_ppm,
         |  coalesce(max_run, 0) AS max_matched_run,
         |  coalesce(max_run, 0) >= $MemorizedRunMin AS memorized
         |FROM agg a LEFT JOIN mr ON a.gen_id = mr.gen_id""".stripMargin
    },
    "q_shingle_profile" -> {
      val b0 = "CAST(floor(log2(freq)) AS INTEGER)"
      s"""WITH $shingleSql,
         |fr AS (SELECT sid, CAST(count(*) AS BIGINT) AS freq FROM ds
         |  GROUP BY sid),
         |bk AS (SELECT freq, $b0
         |    + (CASE WHEN freq >= (CAST(1 AS BIGINT) << ($b0 + 1))
         |        THEN 1 ELSE 0 END)
         |    - (CASE WHEN freq < (CAST(1 AS BIGINT) << $b0)
         |        THEN 1 ELSE 0 END) AS bucket
         |  FROM fr)
         |SELECT bucket, CAST(CAST(1 AS BIGINT) << bucket AS BIGINT)
         |    AS freq_lo,
         |  CAST(count(*) AS BIGINT) AS n_shingles,
         |  CAST(sum(freq) AS BIGINT) AS n_instances,
         |  CAST(min(freq) AS BIGINT) AS min_freq,
         |  CAST(max(freq) AS BIGINT) AS max_freq,
         |  max(freq) <= $RareShingleMaxFreq AS blockable
         |FROM bk GROUP BY bucket""".stripMargin
    },
    "q_dup_transitivity" ->
      s"""WITH $minhashCtes,
         |ver AS (${verifySql(MinhashThreshold)}),
         |e AS (SELECT doc_a AS a, doc_b AS b FROM ver),
         |deg AS (SELECT v, count(*) AS deg FROM (
         |  SELECT a AS v FROM e UNION ALL SELECT b AS v FROM e)
         |  GROUP BY v),
         |nw AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes,
         |  CAST(sum(deg * (deg - 1) // 2) AS BIGINT) AS n_wedges
         |  FROM deg),
         |ne AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM e),
         |tr AS (SELECT CAST(count(*) AS BIGINT) AS n_triangles FROM (
         |  SELECT e1.a, e1.b, e2.c FROM e e1
         |  JOIN (SELECT a AS b, b AS c FROM e) e2 USING (b)
         |  WHERE EXISTS (SELECT 1 FROM e e3
         |    WHERE e3.a = e1.a AND e3.b = e2.c)))
         |SELECT n_nodes, n_edges, n_wedges, n_triangles,
         |  CAST(3 * n_triangles * 1000000 // NULLIF(n_wedges, 0)
         |    AS BIGINT) AS transitivity_ppm
         |FROM nw CROSS JOIN ne CROSS JOIN tr""".stripMargin,
    "q_dedup_exact" ->
      """SELECT min(doc_id) AS keep_id, count(*) AS n_copies FROM documents GROUP BY text""",
    "q_dedup_minhash" -> minhashSql,
    "q_lsh_recall" ->
      s"""WITH $minhashCtes,
         |lshp AS (${verifySql(MinhashThreshold)}),
         |rare AS (SELECT sid FROM ds GROUP BY sid
         |  HAVING count(*) <= $RareShingleMaxFreq),
         |rds AS (SELECT doc_id, sid FROM ds JOIN rare USING (sid)),
         |cande AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
         |  FROM rds x JOIN rds y ON x.sid = y.sid
         |    AND x.doc_id < y.doc_id),
         |vere AS (SELECT doc_a, doc_b,
         |    round(CAST(len(list_intersect(sa.sids, sb.sids)) AS DOUBLE) /
         |      (sa.n + sb.n - len(list_intersect(sa.sids, sb.sids))), 6)
         |      AS jaccard
         |  FROM cande JOIN sets sa ON sa.doc_id = doc_a
         |  JOIN sets sb ON sb.doc_id = doc_b
         |  WHERE CAST(len(list_intersect(sa.sids, sb.sids)) AS DOUBLE) /
         |    (sa.n + sb.n - len(list_intersect(sa.sids, sb.sids)))
         |    >= $JaccardThreshold),
         |ex AS (SELECT doc_a, doc_b, 1 AS e FROM vere
         |  WHERE jaccard >= $MinhashThreshold),
         |ls AS (SELECT doc_a, doc_b, 1 AS l FROM lshp),
         |fj AS (SELECT COALESCE(e, 0) AS e, COALESCE(l, 0) AS l
         |  FROM ex FULL JOIN ls USING (doc_a, doc_b)),
         |agg AS (SELECT CAST(sum(e) AS BIGINT) AS n_exact,
         |    CAST(sum(l) AS BIGINT) AS n_lsh,
         |    CAST(sum(e * l) AS BIGINT) AS n_common FROM fj)
         |SELECT n_exact, n_lsh, n_common,
         |  CASE WHEN n_exact > 0
         |    THEN round(CAST(n_common AS DOUBLE) / n_exact, 6) END
         |    AS lsh_recall,
         |  n_lsh - n_common AS n_lsh_only,
         |  n_exact - n_common AS n_exact_only
         |FROM agg""".stripMargin,
    "q_lsh_recall_sampled" ->
      s"""WITH $minhashCtes,
         |lshp AS (${verifySql(MinhashThreshold)}),
         |panel AS (SELECT DISTINCT doc_id FROM ds
         |  WHERE ((doc_id % 1000000007) * 2654435761) % 1000000007
         |    % $LshRecallPanelMod = 0),
         |sds AS (SELECT doc_id, sid FROM ds JOIN panel USING (doc_id)),
         |ssets AS (SELECT doc_id, list_distinct(list(sid)) AS sids,
         |  count(*) AS n FROM sds GROUP BY doc_id),
         |rare AS (SELECT sid FROM sds GROUP BY sid
         |  HAVING count(*) <= $RareShingleMaxFreq),
         |rds AS (SELECT doc_id, sid FROM sds JOIN rare USING (sid)),
         |cande AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
         |  FROM rds x JOIN rds y ON x.sid = y.sid AND x.doc_id < y.doc_id),
         |ex AS (SELECT doc_a, doc_b, 1 AS e FROM cande
         |  JOIN ssets sa ON sa.doc_id = doc_a
         |  JOIN ssets sb ON sb.doc_id = doc_b
         |  WHERE CAST(len(list_intersect(sa.sids, sb.sids)) AS DOUBLE) /
         |    (sa.n + sb.n - len(list_intersect(sa.sids, sb.sids)))
         |    >= $MinhashThreshold),
         |ls AS (SELECT doc_a, doc_b, 1 AS l FROM lshp
         |  JOIN panel pa ON pa.doc_id = lshp.doc_a
         |  JOIN panel pb ON pb.doc_id = lshp.doc_b),
         |fj AS (SELECT COALESCE(e, 0) AS e, COALESCE(l, 0) AS l
         |  FROM ex FULL JOIN ls USING (doc_a, doc_b)),
         |agg AS (SELECT CAST(COALESCE(sum(e), 0) AS BIGINT) AS n_exact,
         |    CAST(COALESCE(sum(l), 0) AS BIGINT) AS n_lsh,
         |    CAST(COALESCE(sum(e * l), 0) AS BIGINT) AS n_common FROM fj),
         |pn AS (SELECT CAST(count(*) AS BIGINT) AS n_panel_docs FROM panel)
         |SELECT n_exact, n_lsh, n_common,
         |  CASE WHEN n_exact > 0
         |    THEN round(CAST(n_common AS DOUBLE) / n_exact, 6) END
         |    AS lsh_recall,
         |  n_lsh - n_common AS n_lsh_only,
         |  n_exact - n_common AS n_exact_only,
         |  n_panel_docs
         |FROM agg, pn""".stripMargin,
    "q_dup_source_matrix" ->
      s"""WITH $minhashCtes,
         |ver AS (${verifySql(MinhashThreshold)}),
         |lab AS (SELECT
         |    least(COALESCE(a.source, 'planted'),
         |      COALESCE(b.source, 'planted')) AS src_a,
         |    greatest(COALESCE(a.source, 'planted'),
         |      COALESCE(b.source, 'planted')) AS src_b,
         |    v.doc_a, v.doc_b,
         |    CAST(round(v.jaccard * 1000000) AS BIGINT) AS j_micro
         |  FROM ver v LEFT JOIN documents a ON a.doc_id = v.doc_a
         |  LEFT JOIN documents b ON b.doc_id = v.doc_b),
         |pd AS (SELECT src_a, src_b, count(DISTINCT d) AS n_docs FROM (
         |    SELECT src_a, src_b, doc_a AS d FROM lab
         |    UNION ALL SELECT src_a, src_b, doc_b FROM lab)
         |  GROUP BY src_a, src_b)
         |SELECT src_a, src_b, CAST(count(*) AS BIGINT) AS n_pairs,
         |  CAST(n_docs AS BIGINT) AS n_docs,
         |  round(CAST(sum(j_micro) AS DOUBLE) / (count(*) * 1000000), 6)
         |    AS mean_jaccard
         |FROM lab JOIN pd USING (src_a, src_b)
         |GROUP BY src_a, src_b, n_docs""".stripMargin,
    "q_dedup_sensitivity" -> {
      val ts = SweepThresholds.map(t => s"($t)").mkString(", ")
      s"""WITH $minhashCtes,
         |j AS (SELECT doc_a, doc_b,
         |    CAST(len(list_intersect(sa.sids, sb.sids)) AS BIGINT) AS ni,
         |    CAST(sa.n + sb.n - len(list_intersect(sa.sids, sb.sids))
         |      AS BIGINT) AS un
         |  FROM cand JOIN sets sa ON sa.doc_id = doc_a
         |  JOIN sets sb ON sb.doc_id = doc_b),
         |t(threshold_pct) AS (SELECT * FROM (VALUES $ts)),
         |sw AS (SELECT threshold_pct, doc_a, doc_b FROM j CROSS JOIN t
         |  WHERE ni * 100 >= threshold_pct * un),
         |np AS (SELECT threshold_pct, count(*) AS p FROM sw GROUP BY 1),
         |nd AS (SELECT threshold_pct, count(DISTINCT d) AS g FROM (
         |    SELECT threshold_pct, doc_a AS d FROM sw
         |    UNION ALL SELECT threshold_pct, doc_b FROM sw)
         |  GROUP BY 1)
         |SELECT CAST(t.threshold_pct AS BIGINT) AS threshold_pct,
         |  CAST(COALESCE(p, 0) AS BIGINT) AS n_pairs,
         |  CAST(COALESCE(g, 0) AS BIGINT) AS n_dup_docs
         |FROM t LEFT JOIN np USING (threshold_pct)
         |LEFT JOIN nd USING (threshold_pct)""".stripMargin
    },
    "q_split_leakage" ->
      s"""WITH $minhashCtes,
         |ver AS (${verifySql(MinhashThreshold)}),
         |spl AS (SELECT doc_id,
         |    CASE WHEN b < ${Curation.SplitTrainPct} THEN 'train'
         |      WHEN b < ${Curation.SplitValPct} THEN 'validation'
         |      ELSE 'test' END AS split
         |  FROM (SELECT doc_id,
         |      ${TextOps.portableFpSql("text", Curation.FpBase1,
                  Curation.FpMod1)} % 100 AS b
         |    FROM docs)),
         |lab AS (SELECT least(sa.split, sb.split) AS split_a,
         |    greatest(sa.split, sb.split) AS split_b, v.jaccard
         |  FROM ver v JOIN spl sa ON sa.doc_id = v.doc_a
         |  JOIN spl sb ON sb.doc_id = v.doc_b)
         |SELECT split_a, split_b, CAST(count(*) AS BIGINT) AS n_pairs,
         |  round(max(jaccard), 6) AS max_jaccard
         |FROM lab GROUP BY split_a, split_b""".stripMargin,
    "q_dedup_incremental" -> incrementalSql,
    "q_dedup_incremental_bucketed" -> incrementalSql,
    "q_index_forget" -> indexForgetSql,
    "q_dedup_clusters" -> clustersSql,
    "q_dedup_weights" -> dedupWeightsSql,
    "q_dedup_ngram_jaccard" -> ngramJaccardSql,
    "q_dedup_containment" ->
      s"""WITH $shingleSql,
         |rare AS (SELECT sid FROM ds GROUP BY sid
         |  HAVING count(*) <= $RareShingleMaxFreq),
         |rds AS (SELECT doc_id, sid FROM ds JOIN rare USING (sid)),
         |cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
         |  FROM rds x JOIN rds y ON x.sid = y.sid AND x.doc_id < y.doc_id)
         |SELECT doc_a, doc_b,
         |  CAST(len(list_intersect(sa.sids, sb.sids)) AS BIGINT)
         |    AS n_common,
         |  round(CAST(len(list_intersect(sa.sids, sb.sids)) AS DOUBLE)
         |    / sa.n, 6) AS containment_a,
         |  round(CAST(len(list_intersect(sa.sids, sb.sids)) AS DOUBLE)
         |    / sb.n, 6) AS containment_b
         |FROM cand JOIN sets sa ON sa.doc_id = doc_a
         |JOIN sets sb ON sb.doc_id = doc_b
         |WHERE CAST(len(list_intersect(sa.sids, sb.sids)) AS DOUBLE)
         |  / least(sa.n, sb.n) >= $ContainmentThreshold""".stripMargin,
    "q_dedup_simhash" -> simhashSql,
    "q_simhash_pairs" -> simhashPairsSql,
    "q_decontaminate" -> decontaminateSql,
    "q_decontaminate_bloom" -> decontaminateSql,
    "q_repeated_spans" ->
      s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t
         |  FROM documents),
         |grams AS (SELECT doc_id,
         |    array_to_string(t[p : p + ${SpanTokens - 1}], ' ') AS span
         |  FROM toks, LATERAL (SELECT
         |    unnest(range(1, len(t) - ${SpanTokens - 2})) AS p)
         |  WHERE len(t) >= $SpanTokens)
         |SELECT span, count(DISTINCT doc_id) AS n_docs, count(*) AS n_occ
         |FROM grams GROUP BY span
         |HAVING count(DISTINCT doc_id) >= 2
         |ORDER BY n_docs DESC, n_occ DESC, span
         |LIMIT $SpanTopK""".stripMargin,
    "q_substring_dedup" -> {
      val values = SubstrPlantedRows.map { case (id, t) =>
        s"($id, '${t.replace("'", "''")}')"
      }.mkString(", ")
      s"""WITH src AS (SELECT doc_id, text FROM documents
         |  UNION ALL SELECT * FROM (VALUES $values) v(doc_id, text)),
         |$substrSpanSqlCtes
         |SELECT doc_id, span_start, span_end,
         |  span_end - span_start + 1 AS span_tokens, n_windows
         |FROM sp WHERE span_end - span_start + 1 >= $SubstrMinSpan"""
        .stripMargin
    },
    "q_substring_scrub" -> {
      val values = SubstrPlantedRows.map { case (id, t) =>
        s"($id, '${t.replace("'", "''")}')"
      }.mkString(", ")
      s"""WITH src AS (SELECT doc_id, text FROM documents
         |  UNION ALL SELECT * FROM (VALUES $values) v(doc_id, text)),
         |$substrSpanSqlCtes,
         |spans AS (SELECT doc_id, span_start, span_end FROM sp
         |  WHERE span_end - span_start + 1 >= $SubstrMinSpan),
         |pos AS (SELECT doc_id, p, t[p] AS tokn FROM tok,
         |  LATERAL (SELECT unnest(range(1, len(t) + 1)) AS p)),
         |kept AS (SELECT pos.doc_id, p, tokn FROM pos
         |  WHERE NOT EXISTS (SELECT 1 FROM spans s
         |    WHERE s.doc_id = pos.doc_id
         |      AND p BETWEEN s.span_start AND s.span_end)),
         |reb AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
         |    string_agg(tokn, ' ' ORDER BY p) AS scrub_text
         |  FROM kept GROUP BY doc_id)
         |SELECT tok.doc_id, CAST(len(t) AS BIGINT) AS n_tokens,
         |  CAST(len(t) - COALESCE(n_kept, 0) AS BIGINT) AS n_removed,
         |  COALESCE(scrub_text, '') AS scrub_text,
         |  ${idUtf8Sql("COALESCE(scrub_text, '')")} AS scrub_fp
         |FROM tok LEFT JOIN reb ON tok.doc_id = reb.doc_id"""
        .stripMargin
    },
    "q_substring_incremental" ->
      s"""WITH src AS (SELECT doc_id, text FROM documents),
         |$substrWindowSqlCtes,
         |cs AS (SELECT DISTINCT sid FROM sh
         |  WHERE doc_id % $IncrementalDeltaMod > 0),
         |mk AS (SELECT doc_id, pos FROM sh
         |  WHERE doc_id % $IncrementalDeltaMod = 0
         |    AND sid IN (SELECT sid FROM cs)),
         |$substrIslandSqlCtes
         |SELECT doc_id AS doc_new, span_start, span_end,
         |  span_end - span_start + 1 AS span_tokens, n_windows
         |FROM sp WHERE span_end - span_start + 1 >= $SubstrMinSpan"""
        .stripMargin,
    // bit-identical semantics through the persisted bucketed index —
    // the SAME oracle (the q_dedup_incremental_bucketed pattern)
    "q_substring_incremental_bucketed" ->
      s"""WITH src AS (SELECT doc_id, text FROM documents),
         |$substrWindowSqlCtes,
         |cs AS (SELECT DISTINCT sid FROM sh
         |  WHERE doc_id % $IncrementalDeltaMod > 0),
         |mk AS (SELECT doc_id, pos FROM sh
         |  WHERE doc_id % $IncrementalDeltaMod = 0
         |    AND sid IN (SELECT sid FROM cs)),
         |$substrIslandSqlCtes
         |SELECT doc_id AS doc_new, span_start, span_end,
         |  span_end - span_start + 1 AS span_tokens, n_windows
         |FROM sp WHERE span_end - span_start + 1 >= $SubstrMinSpan"""
        .stripMargin,
    "q_dedup_report" ->
      s"""WITH src AS (SELECT doc_id, text FROM documents),
         |$substrSpanSqlCtes,
         |spans AS (SELECT doc_id,
         |    span_end - span_start + 1 AS span_tokens FROM sp
         |  WHERE span_end - span_start + 1 >= $SubstrMinSpan),
         |per AS (SELECT d.doc_id, d.source,
         |    CAST(len(${TextOps.segmentSql("text")}) AS BIGINT)
         |      AS n_tokens
         |  FROM documents d),
         |agg AS (SELECT doc_id,
         |    CAST(sum(span_tokens) AS BIGINT) AS dup_tokens,
         |    CAST(max(span_tokens) AS BIGINT) AS max_span,
         |    count(*) AS n_spans
         |  FROM spans GROUP BY doc_id)
         |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(CASE WHEN a.n_spans IS NOT NULL THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_docs_with_dup,
         |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
         |  CAST(sum(coalesce(dup_tokens, 0)) AS BIGINT) AS dup_tokens,
         |  CAST(sum(coalesce(dup_tokens, 0)) * 1000000
         |    // sum(n_tokens) AS BIGINT) AS dup_ppm,
         |  CAST(max(coalesce(max_span, 0)) AS BIGINT) AS max_span
         |FROM per p LEFT JOIN agg a ON p.doc_id = a.doc_id
         |GROUP BY source""".stripMargin,
    "q_utf8_fingerprint" -> {
      val values = Utf8PlantedRows.map { case (id, t) =>
        s"($id, '${t.replace("'", "''")}')"
      }.mkString(", ")
      s"""SELECT doc_id, ${idUtf8Sql("text")} AS utf8_fp FROM (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL SELECT * FROM (VALUES $values) t(doc_id, text))""".stripMargin
    },
    "q_corpus_overlap" ->
      s"""WITH $shingleSql,
         |pres AS (SELECT sid,
         |    max(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS in_a,
         |    max(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END) AS in_b
         |  FROM ds GROUP BY sid),
         |tot AS (SELECT sum(in_a) AS n_a, sum(in_b) AS n_b,
         |    sum(in_a * in_b) AS n_inter, count(*) AS n_union FROM pres)
         |SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
         |  CAST(n_inter AS BIGINT) AS n_inter,
         |  CAST(n_union AS BIGINT) AS n_union,
         |  CAST(n_inter * 1000000 // n_union AS BIGINT) AS jaccard_ppm,
         |  CAST(n_inter * 1000000 // NULLIF(n_a, 0) AS BIGINT)
         |    AS containment_a_ppm,
         |  CAST(n_inter * 1000000 // NULLIF(n_b, 0) AS BIGINT)
         |    AS containment_b_ppm
         |FROM tot""".stripMargin)
}
