package graft

import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.engine.{Dedup, Multimodal, ScalarOps, Tables}
import graft.streaming.SessionState
import graft.streaming.SessionState.{ClosedSession, Event, OpenSession}

/** ScalaCheck-generator properties (SURVEY.md §5.3) over the pure kernels:
  * the stateful session transition function, the rolling fingerprint law,
  * the stub decoder, and the recode fold via a Spark batch. (Sampling is
  * driven manually from seeded Gens — the scalatest/scalacheck bridge
  * artifact is not available offline.)
  */
class PropertySpec extends SparkSpec {

  private def samples[A](gen: Gen[A], n: Int): Seq[A] =
    (1 to n).flatMap(i =>
      gen.apply(Gen.Parameters.default, Seed(i.toLong)))

  private val tsGen: Gen[List[Long]] =
    Gen.chooseNum(1, 40).flatMap(k =>
      Gen.listOfN(k, Gen.chooseNum(0L, 8L * 3600L * 1000000L)))

  /** Drive updateSessions like a single microbatch and collect closed +
    * open state.
    */
  private def runBatch(ts: List[Long]): (Seq[ClosedSession], Option[OpenSession]) = {
    var saved: Option[OpenSession] = None
    val state = new org.apache.spark.sql.streaming.GroupState[OpenSession] {
      def exists: Boolean = saved.isDefined
      def get: OpenSession = saved.get
      def getOption: Option[OpenSession] = saved
      def update(s: OpenSession): Unit = saved = Some(s)
      def remove(): Unit = saved = None
      def hasTimedOut: Boolean = false
      def setTimeoutDuration(d: Long): Unit = ()
      def setTimeoutDuration(d: String): Unit = ()
      def setTimeoutTimestamp(t: Long): Unit = ()
      def setTimeoutTimestamp(t: Long, add: String): Unit = ()
      def setTimeoutTimestamp(t: java.sql.Date): Unit = ()
      def setTimeoutTimestamp(t: java.sql.Date, add: String): Unit = ()
      def getCurrentWatermarkMs(): Long = 0L
      def getCurrentProcessingTimeMs(): Long = 0L
    }
    val closed = SessionState.updateSessions(1L,
      ts.map(t => Event(1L, new java.sql.Timestamp(t / 1000), t)).iterator,
      state).toSeq
    (closed, saved)
  }

  test("sessionization partitions events exactly (counts conserve)") {
    samples(tsGen, 60).foreach { ts =>
      val (closed, open) = runBatch(ts)
      val total = closed.map(_.n_events).sum + open.map(_.n).getOrElse(0L)
      assert(total === ts.length.toLong, s"input $ts")
    }
  }

  test("sessionization: spans ordered, inter-session gaps exceed the gap") {
    samples(tsGen, 60).foreach { ts =>
      val (closed, open) = runBatch(ts)
      val all = closed.map(s => (s.start_us, s.end_us)) ++
        open.map(s => (s.start_us, s.last_us))
      all.foreach { case (s, e) => assert(s <= e) }
      val sorted = all.sortBy(_._1)
      sorted.zip(sorted.drop(1)).foreach { case ((_, e1), (s2, _)) =>
        assert(s2 - e1 > SessionState.GapUs, s"input $ts")
      }
    }
  }

  test("rolling fingerprint matches BigInt arithmetic and stays in range") {
    samples(Gen.asciiPrintableStr, 200).foreach { s =>
      val folded = s.foldLeft(0L)((acc, ch) =>
        (acc * 31 + ch.toInt) % 1000000007L)
      val big = s.foldLeft(BigInt(0))((acc, ch) =>
        (acc * 31 + ch.toInt) % 1000000007)
      assert(BigInt(folded) === big)
      assert(folded >= 0 && folded < 1000000007L)
    }
  }

  test("portable shingle id matches BigInt arithmetic on ASCII strings") {
    import org.apache.spark.sql.functions.col
    val strs = samples(Gen.nonEmptyListOf(
      Gen.choose(33.toChar, 126.toChar)).map(_.mkString), 200).distinct
    import spark.implicits._
    val got = strs.toDF("s")
      .select(col("s"), graft.engine.Dedup.portableId(col("s")).as("id"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    strs.foreach { s =>
      val big = s.foldLeft(BigInt(0))((acc, ch) =>
        (acc * 31 + ch.toInt) % graft.engine.Dedup.IdMod)
      assert(BigInt(got(s)) === big, s"id mismatch for '$s'")
      assert(got(s) >= 0 && got(s) < graft.engine.Dedup.IdMod)
    }
  }

  test("utf8 portable id folds UTF-8 bytes; agrees with ascii id on ASCII") {
    import org.apache.spark.sql.functions.col
    // generated printable-ASCII plus the planted multilingual rows (incl.
    // the astral-plane emoji whose surrogate pair would corrupt a
    // per-character fold)
    val strs = (samples(Gen.nonEmptyListOf(
      Gen.choose(33.toChar, 126.toChar)).map(_.mkString), 100) ++
      graft.engine.Dedup.Utf8PlantedRows.map(_._2) ++ Seq("")).distinct
    import spark.implicits._
    val got = strs.toDF("s")
      .select(col("s"),
        graft.engine.Dedup.portableIdUtf8(col("s")).as("u"),
        graft.engine.Dedup.portableId(col("s")).as("a"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    strs.foreach { s =>
      val exp = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        .foldLeft(0L)((acc, b) =>
          (acc * 31 + (b & 0xff)) % graft.engine.Dedup.IdMod)
      assert(got(s)._1 === exp, s"utf8 byte-fold mismatch for '$s'")
      if (s.nonEmpty && s.forall(_ < 128))
        assert(got(s)._2 === exp, s"ascii id diverges on ASCII input '$s'")
    }
  }

  test("stub decoder is pure and shape-stable on arbitrary payloads") {
    val bytesGen = Gen.listOf(Gen.chooseNum(-128, 127).map(_.toByte))
    samples(bytesGen, 100).foreach { bytes =>
      val p = bytes.toArray
      val a = Multimodal.stubDecode(7L, "image", p)
      val b = Multimodal.stubDecode(7L, "image", p.clone())
      assert(a.features.sameElements(b.features))
      assert(a.features.length === 8)
      assert(a.n_bytes === p.length)
      assert(a.features.forall(f => f >= 0.0 && f <= 1.0))
    }
  }

  test("Y4M decoder law on generated streams: stats match brute force") {
    val cfgGen: Gen[(Int, Int, Int, Int, Int, Boolean)] = for {
      w <- Gen.chooseNum(1, 12)
      h <- Gen.chooseNum(1, 12)
      frames <- Gen.chooseNum(1, 9)
      fn <- Gen.chooseNum(1, 60000)
      fd <- Gen.chooseNum(1, 1001)
      extras <- Gen.oneOf(true, false)
    } yield (w, h, frames, fn, fd, extras)
    for ((w, h, frames, fn, fd, extras) <- samples(cfgGen, 60)) {
      val got = Multimodal.decodeY4m(7L,
        Multimodal.y4mPayload(w, h, frames, fn, fd, extras))
      val sampled = 0 until frames by Multimodal.VideoFrameStride
      assert(got.map(_.frame_idx) === sampled.toSeq, s"($w,$h,$frames)")
      for (s <- got) {
        def plane(p: Int) = (0 until w * h)
          .map(i => (i * 31 + s.frame_idx * 17 + p * 7 + 13) % 251)
        assert(s.n_frames === frames)
        assert(s.duration_ms === frames.toLong * 1000 * fd / fn)
        assert(s.sum_y === plane(0).map(_.toLong).sum)
        assert(s.sum_u === plane(1).map(_.toLong).sum)
        assert(s.sum_v === plane(2).map(_.toLong).sum)
        assert(s.peak_y === plane(0).max)
      }
      // any strict prefix truncation inside the frame data must throw,
      // never mis-decode: the quarantine contract on arbitrary streams
      val whole = Multimodal.y4mPayload(w, h, frames, fn, fd, extras)
      intercept[IllegalArgumentException] {
        Multimodal.decodeY4m(7L, whole.dropRight(1))
      }
    }
  }

  test("WAV decoder law on generated layouts: stats match brute force") {
    val cfgGen: Gen[(Int, Int, Int, Boolean)] = for {
      ch <- Gen.chooseNum(1, 4)
      rate <- Gen.oneOf(8000, 16000, 22050, 44100, 48000)
      frames <- Gen.chooseNum(1, 300)
      withList <- Gen.oneOf(true, false)
    } yield (ch, rate, frames, withList)
    for ((ch, rate, frames, withList) <- samples(cfgGen, 60)) {
      val got = Multimodal.decodeWav(3L,
        Multimodal.wavPayload(ch, rate, frames, withList))
      assert(got.length === ch, s"($ch,$rate,$frames)")
      for (c <- 0 until ch) {
        val amps = (0 until frames)
          .map(f => (((f * ch + c) * 31 + 7) % 4001) - 2000)
        val s = got(c)
        assert(s.n_samples === frames.toLong)
        assert(s.duration_ms === frames.toLong * 1000 / rate)
        assert(s.sum_amp === amps.map(_.toLong).sum)
        assert(s.sum_sq_amp === amps.map(a => a.toLong * a).sum)
        assert(s.peak_amp === amps.map(math.abs).max)
      }
      // truncating into the data chunk must throw, never mis-decode
      intercept[IllegalArgumentException] {
        Multimodal.decodeWav(3L,
          Multimodal.wavPayload(ch, rate, frames, withList).dropRight(1))
      }
    }
  }

  test("PNG decode law on generated dims: lossless raster recovery") {
    val dimGen: Gen[(Int, Int)] = for {
      w <- Gen.chooseNum(1, 24)
      h <- Gen.chooseNum(1, 24)
    } yield (w, h)
    for ((w, h) <- samples(dimGen, 40)) {
      val img = Multimodal.decodeImage(Multimodal.pngPayload(w, h))
      def sum(c: Int) = (0 until w * h)
        .map(p => ((3 * p + c) * 7 + 13) % 251).map(_.toLong).sum
      assert(img.width === w && img.height === h, s"($w,$h)")
      // PNG is lossless: channel sums equal the arithmetic raster's
      assert(img.sumR === sum(0), s"($w,$h) R")
      assert(img.sumG === sum(1), s"($w,$h) G")
      assert(img.sumB === sum(2), s"($w,$h) B")
    }
    // JPEG is lossy — only dims survive exactly, but decode must be
    // deterministic within a JVM (the oracle-pinning assumption)
    for ((w, h) <- samples(dimGen, 10)) {
      val a = Multimodal.decodeImage(Multimodal.jpegPayload(w, h))
      val b = Multimodal.decodeImage(Multimodal.jpegPayload(w, h))
      assert(a.width === w && a.height === h, s"($w,$h)")
      assert(a === b, s"($w,$h) JPEG decode not deterministic")
    }
  }

  test("recodeBooleans domain law on generated inputs (Spark batch)") {
    import spark.implicits._
    val strGen = Gen.oneOf(Gen.const("True"), Gen.const("False"),
      Gen.alphaStr.map(_.take(6)))
    val listGen = Gen.listOfN(25, strGen)
    samples(listGen, 4).foreach { vals =>
      val out = ScalarOps
        .recodeBooleans(vals.toDF("a"), Seq("a"))
        .collect().map(_.getString(0))
      assert(out.forall(Set("1", "0", "Missing")))
      vals.zip(out).foreach {
        case ("True", o) => assert(o === "1")
        case ("False", o) => assert(o === "0")
        case (_, o) => assert(o === "Missing")
      }
    }
  }

  test("bloom filter law on generated key sets: zero false negatives") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val keysGen = Gen.chooseNum(1, 200).flatMap(n =>
      Gen.listOfN(n, Gen.chooseNum(-1000000L, 1000000L)))
    samples(keysGen, 6).foreach { keys =>
      val build = keys.toDF("k")
      val bitmap = graft.engine.JoinOps.bloomBitmap(
        build.select(explode(array(
          (0 until graft.engine.JoinOps.BloomHashes)
            .map(s => graft.engine.JoinOps.bloomPos(col("k"), s)): _*))
          .as("pos")))
      // probe = every build key + 500 disjoint non-keys
      val probe = (keys ++ (1 to 500).map(i => 2000000L + i * 7L))
        .toDF("k")
      val passed = graft.engine.JoinOps.bloomFilterRows(
        probe.crossJoin(broadcast(bitmap)), col("k"))
        .select("k").collect().map(_.getLong(0)).toSet
      assert(keys.toSet.subsetOf(passed),
        s"bloom dropped build keys: ${(keys.toSet -- passed).take(5)}")
      // sanity on the other direction: with ≤200 keys in 64 Kbit the fp
      // rate is well under 10%, so most non-keys must be rejected
      val fp = passed -- keys.toSet
      assert(fp.size < 50, s"false-positive rate degenerate: ${fp.size}/500")
    }
  }

  test("chunk dedup law on generated corpora: exact in-memory replay") {
    import spark.implicits._
    val wordGen = Gen.oneOf("a", "b", "c", "d")
    val docGen = Gen.chooseNum(1, 12)
      .flatMap(n => Gen.listOfN(n, wordGen)).map(_.mkString(" "))
    val corpusGen = Gen.chooseNum(1, 30)
      .flatMap(n => Gen.listOfN(n, docGen))
    samples(corpusGen, 4).foreach { texts =>
      val dir = graft.engine.TempArtifacts.tempDir("prop_chunk")
      texts.zipWithIndex
        .map { case (t, i) => (i.toLong, t, "en", "src", t.length.toLong) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val got = graft.engine.Dedup.chunkDedup(spark, dir).collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
          r.getLong(3)))).toMap
      val cw = graft.engine.Dedup.ChunkWords
      val chunks = texts.zipWithIndex.flatMap { case (t, i) =>
        val w = t.split(" ")
        (0 until w.length by cw)
          .map(p => (i.toLong, p, w.slice(p, p + cw).mkString(" ")))
      }
      val seen = scala.collection.mutable.Set.empty[String]
      val kept = scala.collection.mutable.Map
        .empty[Long, Long].withDefaultValue(0L)
      val tot = scala.collection.mutable.Map
        .empty[Long, Long].withDefaultValue(0L)
      chunks.sortBy(c => (c._1, c._2)).foreach { case (d, _, ch) =>
        tot(d) += 1
        if (!seen(ch)) { seen += ch; kept(d) += 1 }
      }
      texts.indices.foreach { i =>
        val (n, k, dup) = got(i.toLong)
        assert(n == tot(i.toLong) && k == kept(i.toLong) && dup == n - k,
          s"doc $i: got ($n,$k,$dup) want (${tot(i.toLong)},${kept(i.toLong)})")
      }
    }
  }

  test("html extraction law: no residual tags, idempotent on its output") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // generated markup: nested tags, blocks, entities, whitespace runs —
    // plus the planted fixture rows and the real (markup-free) corpus
    val word = Gen.oneOf("alpha", "beta", "gamma", "x1")
    val entity = Gen.oneOf("&amp;", "&lt;3", "&#39;q&#39;", "&nbsp;",
      "&amp;lt;kept&amp;gt;")
    val piece: Gen[String] = Gen.frequency(
      4 -> word,
      2 -> entity,
      2 -> word.map(w => s"<b>$w</b>"),
      1 -> word.map(w => s"<script>var $w = 1 < 2;</script>"),
      1 -> word.map(w => s"<style>.$w { x: 1 }</style>"),
      1 -> word.map(w => s"<!-- $w -->"),
      1 -> Gen.oneOf(" ", "\n", "\t ", "  "))
    val docGen = Gen.chooseNum(1, 15)
      .flatMap(n => Gen.listOfN(n, piece)).map(_.mkString(" "))
    val generated = samples(docGen, 40).zipWithIndex
      .map { case (t, i) => (940000L + i, t) }
    val planted = graft.engine.TextOps.HtmlPlantedRows
    val rows = (generated ++ planted).toDF("doc_id", "text")
      .withColumn("clean", graft.engine.TextOps.htmlToText(col("text")))
      .withColumn("again", graft.engine.TextOps.htmlToText(col("clean")))
      .collect()
    val tagRe = graft.engine.TextOps.HtmlTagPattern.r
    // one-level entity decode is the HTML standard, so the full chain is
    // idempotent exactly on outputs with no remaining entity reference
    // (a double-encoded input's correct output "&lt;x&gt;" decodes again
    // by design); tag stripping + whitespace collapse are idempotent
    // unconditionally — "no residual tag span" is that law
    val entRe = "&(lt|gt|quot|apos|nbsp|amp|#39);".r
    rows.foreach { r =>
      val (id, clean, again) =
        (r.getLong(0), r.getString(2), r.getString(3))
      if (clean != null) {
        assert(tagRe.findFirstIn(clean).isEmpty,
          s"doc $id: residual tag span in '$clean'")
        if (entRe.findFirstIn(clean).isEmpty) {
          assert(again == clean, s"doc $id: not idempotent" +
            s" ('$clean' -> '$again')")
        }
      }
    }
    // pin the semantics the planted rows encode: block content dropped,
    // entities decoded exactly one level, null propagates
    val byId = rows.map(r => r.getLong(0) ->
      Option(r.getString(2))).toMap
    val full = byId(930001L).get
    assert(!full.contains("color: red") && !full.contains("var x"),
      s"block content must be dropped: '$full'")
    assert(full.contains("Tom & Jerry <3 data 'quoted' \"double\""), full)
    assert(byId(930002L).get == "Upper case tags done", byId(930002L).get)
    assert(byId(930006L).get ==
      "double encoded: &lt;tag&gt; stays text", byId(930006L).get)
    assert(byId(930005L).get == "line one line two", byId(930005L).get)
    assert(byId(930007L).isEmpty, "null text must stay null")
  }

  test("utf8 poly id: native expression == composed-builtin fold, any input") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // arbitrary Unicode: ASCII, 2-byte accents, 3-byte CJK, 4-byte astral
    // (surrogate-pair) emoji, mixed — every UTF-8 width class
    val charGen = Gen.frequency(
      4 -> Gen.alphaNumChar.map(_.toString),
      2 -> Gen.oneOf("é", "ü", "ñ", "ß"),
      2 -> Gen.oneOf("日", "語", "текст", "中"),
      1 -> Gen.oneOf("🚀", "😀", "𝄞"),
      1 -> Gen.oneOf(" ", ".", ","))
    val strGen = Gen.chooseNum(0, 24)
      .flatMap(n => Gen.listOfN(n, charGen)).map(_.mkString)
    val rows = samples(strGen, 60).zipWithIndex
      .map { case (s, i) => (i.toLong, s) } :+ (999L, null: String)
    val got = rows.toDF("id", "s")
      .select(col("id"),
        graft.engine.Dedup.portableIdUtf8(col("s")).as("native"),
        graft.engine.Dedup.portableIdUtf8Reference(col("s")).as("ref"))
      .collect()
    got.foreach { r =>
      if (r.isNullAt(1) || r.isNullAt(2))
        assert(r.isNullAt(1) && r.isNullAt(2), s"null mismatch at ${r.get(0)}")
      else assert(r.getLong(1) === r.getLong(2),
        s"id ${r.get(0)}: native ${r.getLong(1)} != reference ${r.getLong(2)}")
    }
    // and the SQL registration computes the same fold
    graft.GraftExtensions.register(spark)
    rows.toDF("id", "s").createOrReplaceTempView("poly_probe")
    val viaSql = spark.sql(
      s"SELECT id, utf8_poly_id(s, ${graft.engine.Dedup.IdMod}) AS v " +
        "FROM poly_probe").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1))))
      .toMap
    got.foreach { r =>
      val want = if (r.isNullAt(1)) None else Some(r.getLong(1))
      assert(viaSql(r.getLong(0)) === want)
    }
  }

  test("substring dedup law: spans are real duplicates, removal is idempotent") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
      .unionByName(Dedup.SubstrPlantedRows.toDF("doc_id", "text"))
    val spans = Dedup.substringSpans(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(spans.nonEmpty)
    // every flagged span's text occurs at least twice in the corpus
    // (spot-check the planted pair: both carry the identical quote)
    val byDoc = spans.groupBy(_._1)
    assert(byDoc.contains(993001L) && byDoc.contains(993002L))
    val txt = docs.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // the planted pair: identical 16-token quote at different offsets
    val quoteA = byDoc(993001L).head
    val quoteB = byDoc(993002L).head
    assert(quoteA._3 - quoteA._2 === quoteB._3 - quoteB._2,
      "planted spans cover the same 16-token quote")
    def spanText(id: Long, a: Long, b: Long): String =
      txt(id).split(" ").slice(a.toInt - 1, b.toInt).mkString(" ")
    assert(
      spanText(993001L, quoteA._2, quoteA._3) ===
        spanText(993002L, quoteB._2, quoteB._3),
      "the two flagged spans are the same verbatim text")
    // idempotence: remove every flagged span (all copies) and re-run —
    // the redacted corpus must contain no removable span
    val spanMap = spans.groupBy(_._1).view
      .mapValues(_.map(s => (s._2, s._3)).toSeq).toMap
    val redacted = docs.collect().map { r =>
      val id = r.getLong(0)
      val toks = txt(id).split("[ \t\n\r]+").filter(_.nonEmpty)
      val cut = spanMap.getOrElse(id, Seq.empty)
      val kept = toks.zipWithIndex.collect {
        case (t, i) if !cut.exists { case (a, b) =>
          i + 1 >= a && i + 1 <= b } => t
      }
      (id, kept.mkString(" "))
    }.toSeq
    val again = Dedup.substringSpans(redacted.toDF("doc_id", "text"))
    assert(again.count() === 0L,
      "re-running on the redacted corpus must find no spans")
  }

  test("boilerplate removal law: exact df replay, then idempotent") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // generated corpora: shared chrome lines (with padding variants that
    // trim onto the same key), unique content lines, and empty lines
    val chrome = Gen.oneOf("cookie banner", " cookie banner ",
      "subscribe now", "footer links", "\tsubscribe now")
    val lineGen: Gen[String] = Gen.frequency(
      3 -> chrome,
      1 -> Gen.const(""),
      2 -> Gen.chooseNum(0, 9999).map(i => s"unique content $i"))
    val docGen = Gen.chooseNum(0, 6)
      .flatMap(n => Gen.listOfN(n, lineGen)).map(_.mkString("\n"))
    val corpus = samples(docGen, 30).zipWithIndex
      .map { case (t, i) => (960000L + i, t) }
    val out = graft.engine.TextOps
      .boilerplateOver(corpus.toDF("doc_id", "text"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // driver-side exact replay of the df floor
    val df = corpus
      .flatMap { case (id, t) =>
        t.split("\n", -1).map(_.trim).filter(_.nonEmpty).distinct
          .map(_ -> id)
      }
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).distinct.size }
    val want = corpus.map { case (id, t) =>
      id -> t.split("\n", -1)
        .filter(l => l.trim.isEmpty || df(l.trim) < 3).mkString("\n")
    }.toMap
    corpus.foreach { case (id, _) =>
      assert(out(id) == want(id),
        s"doc $id: got '${out(id)}' want '${want(id)}'")
    }
    // second pass over the cleaned corpus removes nothing: cleaning only
    // lowers a key's document frequency
    val again = graft.engine.TextOps
      .boilerplateOver(out.toSeq.toDF("doc_id", "text"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    corpus.foreach { case (id, _) =>
      assert(again(id) == out(id), s"doc $id: not idempotent")
    }
  }

  test("banded hamming plan law: clusters and cross probe == brute force") {
    import spark.implicits._
    val (bands, bandBits, maxH) = (Dedup.SimPairsBands,
      Dedup.SimPairsBandBits, Dedup.SimPairsMaxHamming)
    val rnd = new scala.util.Random(20261019L)
    def randomSig(): Long = rnd.nextLong() & ((1L << (bands * bandBits)) - 1)
    /** `perBand` random bits flipped in each of `hit` (distinct bands). */
    def flip(sig: Long, hit: Seq[Int], perBand: Int): Long =
      hit.foldLeft(sig) { (s, b) =>
        rnd.shuffle((0 until bandBits).toList).take(perBand)
          .foldLeft(s)((t, i) => t ^ (1L << (b * bandBits + i)))
      }
    def someBands(k: Int) = rnd.shuffle((0 until bands).toList).take(k)
    val base = Vector.fill(300)(randomSig())
    // near copies: k ∈ 0..3 flips in k distinct bands, so exactly
    // bands − k bands stay clean and the band arithmetic must find them
    val near =
      (0 until 240).map(i => flip(base(i % 120), someBands(i % 4), 1))
    // far copies: one clean band (a candidate), hamming 6 (verify rejects)
    val far = (40 until 80).map(i => flip(base(i), someBands(bands).tail, 2))
    // an identical block past the bucket cap: only the star links it
    val blockSig = randomSig()
    val block = Vector.fill(Dedup.LshBucketCap + 6)(blockSig)
    val sigs = base ++ near ++ far ++ block
    val ids = rnd.shuffle((1L to sigs.length.toLong).toVector)
    val rows = ids.zip(sigs)
    // precondition: every band bucket over the cap holds ONE signature,
    // so the capped plan loses no pair the brute force keeps
    (0 until bands).foreach { b =>
      sigs.groupBy(s => (s >>> (b * bandBits)) % (1L << bandBits))
        .values.filter(_.size > Dedup.LshBucketCap)
        .foreach(g => assert(g.distinct.size === 1, s"band $b mixed bucket"))
    }
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    // brute force: union-find over all pairs within maxH
    val parent = scala.collection.mutable.Map(ids.map(i => i -> i): _*)
    def find(x: Long): Long =
      if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
    for (i <- rows.indices; j <- i + 1 until rows.length
         if ham(rows(i)._2, rows(j)._2) <= maxH) {
      val (ra, rb) = (find(rows(i)._1), find(rows(j)._1))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val roots = ids.groupBy(find).values.flatMap(g => g.map(_ -> g.min)).toMap
    val wantClusters = ids.map(i => (i, roots(i), i == roots(i))).toSet
    val df = rows.toDF("doc_id", "sig")
    val gotClusters = Dedup.bandedHammingClusters(df, bands, bandBits, maxH)
      .select("doc_id", "cluster_root", "is_keeper")
      .as[(Long, Long, Boolean)].collect().toSet
    assert(gotClusters === wantClusters)
    assert(wantClusters.count(r => !r._3) >= 300, "too few planted dups")
    // cross probe: the first 60 bases plus the block signature play the
    // benchmark; the block's 69 other copies are hits past the cap
    val benchIds =
      (ids.take(60) :+ ids(base.length + near.length + far.length)).toSet
    val (bench, corpus) = rows.partition(r => benchIds(r._1))
    val wantProbe = (for ((c, cs) <- corpus; (b, bs) <- bench
      if ham(cs, bs) <= maxH) yield (c, b, ham(cs, bs))).sorted
    val gotProbe = Dedup.bandedCrossProbe(
        corpus.toDF("doc_id", "sig"), bench.toDF("doc_id", "sig"),
        bands, bandBits, maxH)
      .as[(Long, Long, Int)].collect().toSeq.sorted
    assert(gotProbe === wantProbe)
    assert(wantProbe.size > Dedup.LshBucketCap, "too few planted leaks")
  }
}
