package graft

import org.apache.spark.sql.functions._
import graft.engine._
import graft.streaming.EventStream

/** Multimodal binary plumbing + Structured Streaming windowed aggregation. */
class MultimodalStreamingSpec extends SparkSpec {

  test("media table: payload bytes = 4-byte magic + utf8 text") {
    val bad = Multimodal.mediaTable(spark, sf)
      .join(Tables.documents(spark, sf), "doc_id")
      .filter(length(col("payload")) =!= col("n_chars") + 4)
    assert(bad.count() === 0)
  }

  test("stub decode is deterministic and feature-shaped") {
    val a = Multimodal.decodeFeatures(spark, sf).collect()
      .sortBy(_.doc_id)
    val b = Multimodal.decodeFeatures(spark, sf).collect()
      .sortBy(_.doc_id)
    assert(a.length === 500)
    assert(a.forall(_.features.length === 8))
    a.zip(b).foreach { case (x, y) =>
      assert(x.features.sameElements(y.features), s"doc ${x.doc_id}")
      assert(x.width === y.width && x.height === y.height)
    }
  }

  test("decode runs through the real payload bytes") {
    val row = Multimodal.mediaTable(spark, sf)
      .filter(col("doc_id") === 0).collect()(0)
    val payload = row.getAs[Array[Byte]]("payload")
    val local = Multimodal.stubDecode(0L, row.getString(1), payload)
    val dist = Multimodal.decodeFeatures(spark, sf)
      .filter(col("doc_id") === 0).collect()(0)
    assert(dist.features.sameElements(local.features))
    assert(dist.n_bytes === payload.length)
  }

  test("frame sampling yields one row per 64-byte stride") {
    val frames = Multimodal.frameSample(spark, sf)
    val counted = frames.groupBy("doc_id").count()
      .join(Multimodal.mediaTable(spark, sf)
        .select(col("doc_id"), (floor((length(col("payload")) - 1) / 64) + 1)
          .as("expected")), "doc_id")
    assert(counted.filter(col("count") =!= col("expected")).count() === 0)
  }

  test("PPM decoder: dims and channel means match a brute-force model") {
    val (w, h) = (8, 5)
    val img = Multimodal.decodePpm(Multimodal.ppmPayload(w, h))
    assert(img.width === w && img.height === h)
    // independent model of the arithmetic raster
    val raster = Array.tabulate(w * h * 3)(i => (i * 7 + 13) % 251)
    assert(img.sumR === raster.indices.filter(_ % 3 == 0).map(raster).sum)
    assert(img.sumG === raster.indices.filter(_ % 3 == 1).map(raster).sum)
    assert(img.sumB === raster.indices.filter(_ % 3 == 2).map(raster).sum)
  }

  test("PPM decoder: header comments parse; malformed payloads throw") {
    val base = Multimodal.ppmPayload(4, 3)
    val raster = base.drop("P6\n4 3\n255\n".length)
    val commented = ("P6\n# a comment line\n4 3\n255\n"
      .getBytes("US-ASCII") ++ raster)
    val img = Multimodal.decodePpm(commented)
    assert(img.width === 4 && img.height === 3)
    assert(img.sumR === Multimodal.decodePpm(base).sumR)
    intercept[IllegalArgumentException] {
      Multimodal.decodePpm("P5\n4 3\n255\n".getBytes("US-ASCII"))
    }
    intercept[IllegalArgumentException] {
      Multimodal.decodePpm(base.dropRight(1)) // truncated raster
    }
  }

  test("PPM resize: nearest-neighbor pixels match a brute-force model") {
    val (w, h) = (8, 5)
    val thumb = Multimodal.resizePpm(7L, Multimodal.ppmPayload(w, h))
    assert(thumb.length === Multimodal.ThumbW * Multimodal.ThumbH)
    val raster = Array.tabulate(w * h * 3)(i => (i * 7 + 13) % 251)
    thumb.foreach { t =>
      val p = 3 * ((t.py * h / Multimodal.ThumbH) * w +
        (t.px * w / Multimodal.ThumbW))
      assert((t.r, t.g, t.b) === (raster(p), raster(p + 1), raster(p + 2)),
        s"pixel (${t.px},${t.py})")
    }
    // identity-scale resize of a thumb-sized image keeps every pixel
    val same = Multimodal.resizePpm(8L,
      Multimodal.ppmPayload(Multimodal.ThumbW, Multimodal.ThumbH))
    val smallRaster = Array.tabulate(
      Multimodal.ThumbW * Multimodal.ThumbH * 3)(i => (i * 7 + 13) % 251)
    same.foreach { t =>
      val p = 3 * (t.py * Multimodal.ThumbW + t.px)
      assert((t.r, t.g, t.b) ===
        (smallRaster(p), smallRaster(p + 1), smallRaster(p + 2)))
    }
  }

  test("resize query: only P6/PNG payloads reach the kernel, grid complete") {
    val nPlanted = Multimodal.PpmPlanted.size + Multimodal.PngPlanted.size
    val out = Multimodal.multimodalResize(spark, sf).cache()
    try {
      // exactly the planted images, each with a full thumb grid
      assert(out.select("doc_id").distinct().count() === nPlanted)
      assert(out.count() === nPlanted *
        Multimodal.ThumbW * Multimodal.ThumbH)
      assert(out.filter(col("r") < 0 || col("r") > 255 ||
        col("g") < 0 || col("g") > 255 ||
        col("b") < 0 || col("b") > 255).count() === 0)
    } finally out.unpersist()
  }

  test("decode query: planted PPMs decode through the real parser") {
    val out = Multimodal.multimodalDecode(spark, sf)
      .filter(col("doc_id").between(920000L, 929999L)).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out.keySet === Multimodal.PpmPlanted.map(_._1).toSet)
    Multimodal.PpmPlanted.foreach { case (id, w, h) =>
      val r = out(id)
      assert(r.getInt(3) === w && r.getInt(4) === h)
      val img = Multimodal.decodePpm(Multimodal.ppmPayload(w, h))
      val exp = BigDecimal(img.sumR.toDouble / (w * h))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(r.getDouble(5) === exp, s"mean_r of doc $id")
    }
    // corpus rows keep stub dims and null means
    val stub = Multimodal.multimodalDecode(spark, sf)
      .filter(col("doc_id") < 920000L)
    assert(stub.filter(col("mean_r").isNotNull).count() === 0)
  }

  test("PNG decode is lossless: ImageIO recovers the arithmetic raster") {
    Multimodal.PngPlanted.foreach { case (_, w, h) =>
      val img = Multimodal.decodeImage(Multimodal.pngPayload(w, h))
      assert(img.width === w && img.height === h)
      // lossless roundtrip ⇒ channel sums equal the formula's sums exactly
      def sum(c: Int) =
        (0 until w * h).map(p => ((3L * p + c) * 7 + 13) % 251).sum
      assert((img.sumR, img.sumG, img.sumB) === ((sum(0), sum(1), sum(2))),
        s"${w}x$h PNG channel sums")
    }
  }

  test("decode query: planted PNG/JPEG rows decode via real ImageIO") {
    val out = Multimodal.multimodalDecode(spark, sf)
      .filter(col("doc_id") >= 930000L).collect()
      .map(r => r.getLong(0) -> r).toMap
    // PNG + JPEG rows present, malformed-JPEG row quarantined away
    assert(out.keySet ===
      (Multimodal.PngPlanted ++ Multimodal.JpegPlanted).map(_._1).toSet)
    (Multimodal.PngPlanted ++ Multimodal.JpegPlanted).foreach {
      case (id, w, h) =>
        val r = out(id)
        assert(r.getInt(3) === w && r.getInt(4) === h, s"dims of doc $id")
        assert(!r.isNullAt(5) && !r.isNullAt(6) && !r.isNullAt(7),
          s"real means of doc $id")
        assert(r.getDouble(5) >= 0 && r.getDouble(5) <= 255)
    }
  }

  test("malformed JPEG quarantines to zero rows, not a failed job") {
    val out = Multimodal.multimodalDecode(spark, sf)
      .filter(col("doc_id") === Multimodal.MalformedJpegId)
    assert(out.count() === 0)
  }

  test("WAV decoder: per-channel stats match a brute-force model") {
    for ((id, ch, rate, frames, withList) <- Multimodal.WavPlanted) {
      val got = Multimodal.decodeWav(id,
        Multimodal.wavPayload(ch, rate, frames, withList))
      assert(got.length === ch)
      for (c <- 0 until ch) {
        val amps = (0 until frames)
          .map(f => (((f * ch + c) * 31 + 7) % 4001) - 2000)
        val s = got(c)
        assert(s.channel === c)
        assert(s.sample_rate === rate)
        assert(s.n_samples === frames.toLong)
        assert(s.duration_ms === frames.toLong * 1000 / rate)
        assert(s.sum_amp === amps.map(_.toLong).sum)
        assert(s.sum_sq_amp === amps.map(a => a.toLong * a).sum)
        assert(s.peak_amp === amps.map(math.abs).max)
      }
    }
  }

  test("WAV decoder: LIST chunk skipped; malformed/truncated throw") {
    // the LIST-carrying payload decodes identically to a LIST-free one
    val (id, ch, rate, frames, _) = Multimodal.WavPlanted(1)
    assert(Multimodal.decodeWav(id,
        Multimodal.wavPayload(ch, rate, frames, withList = true)) ===
      Multimodal.decodeWav(id,
        Multimodal.wavPayload(ch, rate, frames, withList = false)))
    intercept[IllegalArgumentException] {
      Multimodal.decodeWav(0L, Multimodal.malformedWavPayload)
    }
    // truncated data chunk: declared length exceeds remaining bytes
    val whole = Multimodal.wavPayload(1, 8000, 100, withList = false)
    intercept[IllegalArgumentException] {
      Multimodal.decodeWav(0L, whole.dropRight(10))
    }
  }

  test("audio query: RIFF-only kernel, malformed WAV quarantines") {
    val out = Multimodal.multimodalAudio(spark, sf).cache()
    try {
      // exactly one row per planted channel; no corpus payload leaks in
      assert(out.count() ===
        Multimodal.WavPlanted.map(_._2).sum.toLong)
      assert(out.filter(col("doc_id") === Multimodal.MalformedWavId)
        .count() === 0)
    } finally { out.unpersist(): Unit }
  }

  test("Y4M decoder: frame stats match a brute-force model") {
    for ((id, w, h, frames, fn, fd, extras) <- Multimodal.VideoPlanted) {
      val got = Multimodal.decodeY4m(id,
        Multimodal.y4mPayload(w, h, frames, fn, fd, extras))
      val sampled = 0 until frames by Multimodal.VideoFrameStride
      assert(got.map(_.frame_idx) === sampled.toSeq)
      for (s <- got) {
        def plane(p: Int) = (0 until w * h)
          .map(i => (i * 31 + s.frame_idx * 17 + p * 7 + 13) % 251)
        assert(s.width === w && s.height === h)
        assert(s.n_frames === frames)
        assert(s.duration_ms === frames.toLong * 1000 * fd / fn)
        assert(s.sum_y === plane(0).map(_.toLong).sum)
        assert(s.sum_u === plane(1).map(_.toLong).sum)
        assert(s.sum_v === plane(2).map(_.toLong).sum)
        assert(s.peak_y === plane(0).max)
      }
    }
  }

  test("Y4M decoder: extra params tolerated; malformed/truncated throw") {
    // X header/frame params must not shift the byte walk
    val (id, w, h, frames, fn, fd, _) = Multimodal.VideoPlanted(1)
    assert(Multimodal.decodeY4m(id,
        Multimodal.y4mPayload(w, h, frames, fn, fd, extras = true)) ===
      Multimodal.decodeY4m(id,
        Multimodal.y4mPayload(w, h, frames, fn, fd, extras = false)))
    intercept[IllegalArgumentException] {
      Multimodal.decodeY4m(0L, Multimodal.malformedY4mPayload)
    }
    // truncated mid-frame: the last frame loses its plane tail
    val whole = Multimodal.y4mPayload(4, 4, 3, 25, 1, extras = false)
    intercept[IllegalArgumentException] {
      Multimodal.decodeY4m(0L, whole.dropRight(5))
    }
    // 4:2:0 subsampling is not implemented: fail loudly, never mis-walk
    intercept[IllegalArgumentException] {
      Multimodal.decodeY4m(0L,
        "YUV4MPEG2 W4 H4 F25:1 C420\nFRAME\n".getBytes("US-ASCII")
          ++ Array.fill[Byte](24)(0))
    }
  }

  test("video query: YUV4-only kernel, malformed stream quarantines") {
    val out = Multimodal.multimodalVideo(spark, sf).cache()
    try {
      val expected = Multimodal.VideoPlanted.map { case (_, _, _, n, _, _, _) =>
        (n + Multimodal.VideoFrameStride - 1) / Multimodal.VideoFrameStride
      }.sum.toLong
      assert(out.count() === expected)
      assert(out.filter(col("doc_id") === Multimodal.MalformedY4mId)
        .count() === 0)
    } finally { out.unpersist(): Unit }
  }

  test("streaming windowed counts match the batch event-window query") {
    val q = EventStream.runToMemory(spark, sf, "stream_out")
    try {
      val streamed = spark.table("stream_out")
        .select(col("window_start"), col("event_type"), col("n"))
      val batch = Ext.eventWindow(spark, sf)
        .select(col("window_start"), col("event_type"), col("n"))
      assert(streamed.count() === batch.count())
      assert(streamed.except(batch).count() === 0)
      assert(batch.except(streamed).count() === 0)
    } finally q.stop()
  }

  test("driver streaming query equals the batch twin on every column") {
    val streamed = graft.streaming.StreamingQueries
      .streamEventWindow(spark, sf)
    val batch = Ext.eventWindow(spark, sf)
    assert(streamed.count() === batch.count())
    assert(streamed.except(batch).count() === 0)
  }

  test("streaming KMV distinct: state bounded by k, estimate inside the band") {
    val rows = graft.streaming.StreamingQueries
      .streamDistinct(spark, sf).collect()
    val nWindows = Tables.events(spark, sf)
      .select(date_trunc("hour", col("ts"))).distinct().count()
    assert(rows.length.toLong === nWindows,
      "complete mode converges to one row per hour window")
    val k = Ext.KmvK
    rows.foreach { r =>
      val (exact, nSketch, est) =
        (r.getLong(2), r.getLong(3), r.getDouble(4))
      assert(nSketch <= k)
      assert(nSketch === math.min(exact, k.toLong),
        "distinct hashes = distinct users at fixture cardinality")
      if (nSketch < k) assert(est === exact.toDouble)
      else assert(est > exact * 0.6 && est < exact * 1.67,
        s"window ${r.get(0)}: est $est vs exact $exact")
    }
  }

  test("streaming KMV state law at 20x users: buffer stays <= k per window") {
    // the structural scale claim behind q_stream_distinct's flat
    // ScaleBench row: the per-window STATE is the sketch buffer, and it
    // is <= k longs no matter how many distinct users a window sees.
    // 20x the fixture's per-window user load through the same UDAF the
    // stream aggregates with (complete-mode state == this buffer; the
    // merge law elsewhere proves microbatch splits cannot change it).
    GraftExtensions.register(spark)
    val k = Ext.KmvK
    val usersPerWindow = 40000L // ~20x the fixture's distinct users/hour
    // scrambled fixed-width keys: KMV's estimator reads the k-th ORDER
    // STATISTIC of the hash, so it needs the hash roughly uniform over
    // the id population — SEQUENTIAL decimal ids defeat the byte-poly
    // fold (consecutive strings hash to consecutive values, clustering
    // the hash set into narrow runs), so the synthetic ids go through a
    // multiplicative scramble first, the shape real user ids have
    val rows = spark.range(0, 4 * usersPerWindow).selectExpr(
      s"id DIV $usersPerWindow AS win",
      "lpad(CAST((id * 2654435761) % 1000000007 AS STRING), 10, '0')" +
        " AS uid")
      .selectExpr("win",
        s"utf8_poly_id(uid, ${graft.engine.Dedup.IdMod}L) AS hv")
      .groupBy("win")
      .agg(expr("kmv_sketch(hv)").as("sketch"))
      .selectExpr("win", "size(sketch) AS n_sketch",
        s"round(${k - 1} * ${graft.engine.Dedup.IdMod}.0D" +
          s" / CAST(element_at(sketch, $k) AS DOUBLE), 6) AS est")
      .collect()
    assert(rows.length === 4)
    rows.foreach { r =>
      assert(r.getInt(1) === k,
        s"window ${r.get(0)}: state must cap at k = $k longs")
      val est = r.getDouble(2)
      assert(est > usersPerWindow * 0.6 && est < usersPerWindow * 1.67,
        s"window ${r.get(0)}: estimate $est outside the k=64 band")
    }
  }

  test("stream-static enrichment equals the batch left join exactly") {
    val streamed = graft.streaming.StreamingQueries
      .streamEnrich(spark, sf).cache()
    try {
      val batch = Tables.events(spark, sf)
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value"))
        .join(Tables.load(spark, sf, "customer")
          .select(col("c_custkey").as("user_id"),
            col("c_mktsegment").as("segment")), Seq("user_id"), "left")
        .select(col("event_id"), col("user_id"),
          coalesce(col("segment"), lit("UNKNOWN")).as("segment"),
          col("event_type"),
          round(col("value").cast("decimal(12,2)").cast("double"), 2)
            .as("value"))
      // append-mode stateless enrichment over a finite replay must be
      // the batch join row for row, multiplicity included
      assert(streamed.exceptAll(batch).count() === 0)
      assert(batch.exceptAll(streamed).count() === 0)
      // every event enriched exactly once — the join must not duplicate
      assert(streamed.count() ===
        Tables.events(spark, sf).count())
    } finally { streamed.unpersist(): Unit }
  }

  test("stream-stream interval join equals the batch interval join") {
    val streamed = graft.streaming.StreamingQueries
      .streamStreamJoin(spark, sf).cache()
    try {
      val e = Tables.events(spark, sf)
      val clicks = e.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"),
          col("ts").as("click_ts"))
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"),
          col("user_id").as("p_user_id"), col("ts").as("purchase_ts"))
      val batch = clicks.join(purchases,
          col("user_id") === col("p_user_id") &&
            col("purchase_ts") >= col("click_ts") &&
            col("purchase_ts") <= col("click_ts") +
              expr("INTERVAL 30 MINUTES"))
        .select(col("click_id"), col("user_id"), col("click_ts"),
          col("purchase_id"), col("purchase_ts"),
          (unix_micros(col("purchase_ts")) - unix_micros(col("click_ts")))
            .as("gap_us"))
      // no state eviction over the finite replay → append-mode output is
      // the batch join row for row
      assert(streamed.exceptAll(batch).count() === 0)
      assert(batch.exceptAll(streamed).count() === 0)
      assert(streamed.count() > 0)
      // every emitted pair honors the band
      assert(streamed.filter(col("gap_us") < 0 ||
        col("gap_us") > 30L * 60 * 1000000).count() === 0)
    } finally { streamed.unpersist(): Unit }
  }

  test("streaming foreachBatch upsert store equals the batch argmax per key") {
    val got = graft.streaming.StreamingQueries.streamUpsert(spark, sf).cache()
    try {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id")
        .orderBy(col("ts").desc, col("event_id").desc)
      val batch = Tables.events(spark, sf)
        .withColumn("rn", row_number().over(w))
        .withColumn("n_versions",
          count(lit(1)).over(org.apache.spark.sql.expressions.Window
            .partitionBy("user_id")))
        .filter(col("rn") === 1)
        .select(col("user_id"),
          pmod(col("user_id"),
            lit(graft.streaming.VersionedStore.Buckets.toLong))
            .as("bucket"),
          col("ts").as("last_ts"), col("event_id").as("last_event_id"),
          col("event_type").as("last_event_type"),
          round(col("value").cast("decimal(12,2)").cast("double"), 2)
            .as("last_value"),
          col("n_versions"))
      // the merged store is the batch latest-per-key, row for row
      assert(got.exceptAll(batch).count() === 0)
      assert(batch.exceptAll(got).count() === 0)
      // n_versions sums to the event count — every event applied once
      assert(got.agg(sum(col("n_versions"))).head.getLong(0) ===
        Tables.events(spark, sf).count())
      // one row per user — the store is keyed
      assert(got.select("user_id").distinct().count() === got.count())
    } finally { got.unpersist(): Unit }
  }

  test("streaming dedup emits exactly the batch distinct set, once each") {
    val got = graft.streaming.StreamingQueries.streamDedup(spark, sf)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    // no key emitted twice across the whole replay
    assert(got.length === got.toSet.size)
    val want = Tables.events(spark, sf)
      .select("user_id", "event_type").distinct()
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got.toSet === want)
  }

  test("image dedup: re-encoded twin clusters, near-dup joins, distinct splits") {
    val rows = Multimodal.imageDedup(spark, sf).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getBoolean(3)))).toMap
    // the PNG re-encode of the same raster has the IDENTICAL dHash:
    // lossless codec, same pixels, same perceptual hash
    assert(rows(925001L)._1 == rows(925002L)._1,
      "PNG twin must hash identically to its PPM source")
    // cluster A: source + re-encoded twin + brightness-shifted near-dup
    assert(rows(925002L)._2 == 925001L, s"twin not clustered: $rows")
    assert(rows(925003L)._2 == 925001L, s"near-dup not clustered: $rows")
    assert(rows(925001L)._3 && !rows(925002L)._3 && !rows(925003L)._3,
      "keeper must be the min doc_id of the cluster, and only it")
    // the near-dup is close but NOT identical (a genuine near-dup, not
    // an exact one): hamming in (0, threshold]
    val ham = java.lang.Long.bitCount(rows(925001L)._1 ^ rows(925003L)._1)
    assert(ham > 0 && ham <= Multimodal.DHashMaxHamming, s"hamming $ham")
    // cluster B: the structurally different raster pair stays separate
    assert(rows(925004L)._2 == 925004L && rows(925005L)._2 == 925004L)
    assert(java.lang.Long.bitCount(
      rows(925001L)._1 ^ rows(925004L)._1) > Multimodal.DHashMaxHamming,
      "distinct images must not sit within the near-dup threshold")
    // every other decoded image is a singleton keeper
    val others = rows.keySet -- Set(925001L, 925002L, 925003L, 925004L,
      925005L)
    assert(others.nonEmpty)
    others.foreach { id =>
      assert(rows(id)._2 == id && rows(id)._3, s"$id not a singleton")
    }
  }

  test("stream reader absorbs a nanos-generation events fixture") {
    // fixture regenerations have flipped events.ts between
    // TIMESTAMP(MICROS) and TIMESTAMP(NANOS) before; under
    // nanosAsLong the latter reads as a nano-epoch long. The stream
    // reader must sniff the footer like Tables.events and decode to the
    // same UTC-instant micros — not fail mid-stream with a type error.
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val dir = suiteTempDir("graft-nanos-events")
    val microsOfFixture = graft.engine.Tables.events(spark, sf)
      .select(col("event_id"), unix_micros(col("ts")).as("us"),
        col("user_id"), col("event_type"), col("value"), col("props"))
    // emulate the nanos generation: ts written as a raw nano-epoch long
    // (what TIMESTAMP(NANOS) parquet looks like under nanosAsLong). The
    // fixture layout is a single FILE named events.parquet (the stream
    // glob matches leaf file names), so relocate the one part file
    val stage = suiteTempDir("graft-nanos-stage")
    microsOfFixture
      .select(col("event_id"), (col("us") * 1000L).as("ts"),
        col("user_id"), col("event_type"), col("value"), col("props"))
      .coalesce(1).write.mode("overwrite").parquet(stage)
    val part = java.nio.file.Files.list(java.nio.file.Paths.get(stage))
      .filter(f => f.getFileName.toString.endsWith(".parquet"))
      .findFirst().get()
    java.nio.file.Files.move(part,
      java.nio.file.Paths.get(dir, "events.parquet"))
    val streamed = graft.streaming.EventStream.readEvents(spark, dir)
    assert(streamed.schema("ts").dataType ==
      org.apache.spark.sql.types.TimestampType,
      "nanos fixture must surface as a timestamp column")
    val q = streamed
      .select(col("event_id"), unix_micros(col("ts")).as("us"))
      .writeStream.format("memory").queryName("nanos_events")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val got = spark.table("nanos_events")
      val want = microsOfFixture.select("event_id", "us")
      assert(got.count() === want.count())
      assert(got.exceptAll(want).count() === 0,
        "streamed instants diverge from the batch loader's")
    } finally q.stop()
  }

  test("audio dedup: gain-changed twin clusters, distinct content splits") {
    val rows = Multimodal.audioDedup(spark, sf).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getBoolean(3)))).toMap
    // gain invariance: the same samples at 2x volume have different
    // bytes and different stats but the IDENTICAL energy contour
    assert(rows(965001L)._1 == rows(965002L)._1,
      "volume-doubled twin must hash identically")
    assert(rows(965002L)._2 == 965001L && !rows(965002L)._3)
    // phase-shifted near-dup joins the cluster within the threshold
    assert(rows(965003L)._2 == 965001L && !rows(965003L)._3)
    val ham = java.lang.Long.bitCount(rows(965001L)._1 ^ rows(965003L)._1)
    assert(ham > 0 && ham <= Multimodal.AHashMaxHamming, s"hamming $ham")
    assert(rows(965001L)._3, "cluster min must keep")
    // different content (at any gain) forms its own cluster
    assert(rows(965004L)._1 == rows(965005L)._1,
      "gain-tripled twin of the second recording must hash identically")
    assert(rows(965004L)._2 == 965004L && rows(965005L)._2 == 965004L)
    assert(java.lang.Long.bitCount(
      rows(965001L)._1 ^ rows(965004L)._1) > Multimodal.AHashMaxHamming)
    // the three planted stats WAVs are singletons; malformed RIFF absent
    Seq(960001L, 960002L, 960003L).foreach { id =>
      assert(rows(id)._2 == id && rows(id)._3, s"$id not a singleton")
    }
    assert(!rows.contains(Multimodal.MalformedWavId))
    assert(rows.size === 8)
  }

  test("video dedup: contrast-changed twin clusters, one-frame edit joins") {
    val rows = Multimodal.videoDedup(spark, sf).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getBoolean(3)))).toMap
    // contrast invariance: doubled luma gain, identical energy contour
    assert(rows(985001L)._1 == rows(985002L)._1,
      "contrast-doubled twin must hash identically")
    assert(rows(985002L)._2 == 985001L && !rows(985002L)._3)
    // a single altered frame is a near-dup inside the threshold
    assert(rows(985003L)._2 == 985001L && !rows(985003L)._3)
    val ham = java.lang.Long.bitCount(rows(985001L)._1 ^ rows(985003L)._1)
    assert(ham > 0 && ham <= Multimodal.AHashMaxHamming, s"hamming $ham")
    assert(rows(985001L)._3)
    // different content at any contrast forms its own cluster
    assert(rows(985004L)._1 == rows(985005L)._1)
    assert(rows(985004L)._2 == 985004L && rows(985005L)._2 == 985004L)
    assert(java.lang.Long.bitCount(
      rows(985001L)._1 ^ rows(985004L)._1) > Multimodal.AHashMaxHamming)
    // stats streams are singletons; malformed Y4M quarantined
    Seq(980001L, 980002L, 980003L).foreach { id =>
      assert(rows(id)._2 == id && rows(id)._3, s"$id not a singleton")
    }
    assert(!rows.contains(Multimodal.MalformedY4mId))
    assert(rows.size === 8)
  }

  test("decontamination across modalities: re-encoded eval leaks flagged") {
    // exactly the planted leaks, nothing else: the re-encoded copy at
    // hamming 0 and the perturbed near-copy at hamming 2, each matched
    // to the right benchmark item
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Int)] =
      df.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(pairs(Multimodal.imageDecontaminate(spark, sf)) ===
      Set((926001L, 920002L, 0), (926002L, 920003L, 2)))
    assert(pairs(Multimodal.audioDecontaminate(spark, sf)) ===
      Set((966001L, 960001L, 0), (966002L, 960001L, 2)))
    assert(pairs(Multimodal.videoDecontaminate(spark, sf)) ===
      Set((986001L, 980001L, 0), (986002L, 980001L, 2)))
  }

  test("streaming content gate: planted flagged rows die at ingest," +
      " the one-mention row passes, corpus admitted whole") {
    val admitted = graft.streaming.StreamingQueries
      .streamContentGate(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // the three planted category-tripping rows must be REJECTED
    Seq(995001L, 995002L, 995003L).foreach { id =>
      assert(!admitted.contains(id), s"flagged row $id passed the gate")
    }
    // one stray mention is context, not topic — must pass, with its
    // single hit on the audit trail
    assert(admitted(995004L) === 1L)
    assert(admitted.contains(995005L) && admitted.contains(995006L))
    // the (clean) fixture corpus is admitted whole
    val corpus = Tables.documents(spark, sf).count()
    assert(admitted.size.toLong === corpus + 3)
  }

  test("stream forget: tombstone-order-invariant, physically erased, " +
      "equals the batch latest-per-key over retained keys") {
    import graft.streaming.{StreamingQueries, VersionedStore}
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1),
        r.getTimestamp(2), r.getLong(3), r.getString(4), r.getDouble(5),
        r.getLong(6))).sortBy(_._1).toSeq
    def latest(root: String) =
      VersionedStore.readAsOf(spark, root,
          VersionedStore.latestGen(root).get)
        .select(col("user_id"), col("bucket"), col("last_ts"),
          col("last_event_id"), col("last_event_type"),
          round(col("last_value").cast("decimal(12,2)").cast("double"), 2)
            .as("last_value"),
          col("n_versions"))
    val retained = col("last_event_type") =!= StreamingQueries.TombstoneType
    val forgotten = pmod(col("user_id"), lit(StreamingQueries.ForgetMod)) === 0
    val storeDir = suiteTempDir("forget-store-spec")
    val last = canon(StreamingQueries.streamForgetInto(spark, sf, storeDir))
    // tombstones committed FIRST, then every event, into a fresh store
    // must leave the same retained rows: deletion wins the argmax by
    // timestamp, not by arrival order
    def storeRows(df: org.apache.spark.sql.DataFrame) =
      df.select(col("user_id"), col("ts").as("last_ts"),
        col("event_id").as("last_event_id"),
        col("event_type").as("last_event_type"),
        col("value").as("last_value"), lit(1L).as("n_versions"),
        VersionedStore.bucketOf(col("user_id")).as("bucket"))
    val events = Tables.events(spark, sf)
    val firstDir = suiteTempDir("forget-store-spec-first")
    VersionedStore.commitBatch(storeRows(events.select("user_id")
      .distinct().filter(forgotten)
      .select((-col("user_id")).as("event_id"),
        lit(java.sql.Timestamp.valueOf("2100-01-01 00:00:00")).as("ts"),
        col("user_id"), lit(StreamingQueries.TombstoneType).as("event_type"),
        lit(0.0).as("value"))), firstDir)
    VersionedStore.commitBatch(storeRows(events), firstDir)
    assert(canon(latest(firstDir).filter(retained)) === last,
      "tombstone order changed the retained rows")
    // ... and the same tombstone receipts, version counts included
    assert(canon(latest(firstDir)) === canon(latest(storeDir)))
    // retention, then erasure: before vacuum an older generation still
    // holds a forgotten user's payload; vacuum to the tombstone
    // generation and NO file under data/ (read without any manifest)
    // retains one — only tombstone receipts with the tombstone constants
    def rawForgotten() = spark.read.option("recursiveFileLookup", "true")
      .parquet(s"$storeDir/data").filter(forgotten).collect()
    assert(rawForgotten().exists(_.getAs[String]("last_event_type") !=
      StreamingQueries.TombstoneType), "no payload was retained to erase")
    VersionedStore.vacuum(storeDir, VersionedStore.latestGen(storeDir).get)
    val raw = rawForgotten()
    assert(raw.nonEmpty, "fixture must contain forgotten users")
    raw.foreach { r =>
      assert(r.getAs[String]("last_event_type") ===
        StreamingQueries.TombstoneType,
        s"payload survived for forgotten user ${r.getAs[Long]("user_id")}")
      assert(r.getAs[Double]("last_value") === 0.0)
    }
    // retained side equals the batch latest-per-key argmax over events
    val ord = struct(col("ts"), col("event_id"))
    val batch = canon(Tables.events(spark, sf)
      .filter(pmod(col("user_id"), lit(StreamingQueries.ForgetMod)) =!= 0)
      .groupBy("user_id")
      .agg(max_by(struct(col("ts"), col("event_id"), col("event_type"),
          col("value")), ord).as("m"),
        count(lit(1)).as("n_versions"))
      .select(col("user_id"),
        pmod(col("user_id"), lit(16L)).as("bucket"),
        col("m.ts").as("last_ts"), col("m.event_id").as("last_event_id"),
        col("m.event_type").as("last_event_type"),
        round(col("m.value").cast("decimal(12,2)").cast("double"), 2)
          .as("last_value"),
        col("n_versions")))
    assert(last === batch)
  }
}
