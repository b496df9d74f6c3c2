package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import scala.collection.immutable.SortedSet

import graft.streaming.{StoreFixture, StreamingQueries, VersionedStore}

/** Generation isolation, manifest carry-forward, immutability, and the
  * RTBF retention-then-erasure lifecycle of the copy-on-write
  * [[VersionedStore]] (VERDICT r15 #5).
  */
class VersionedStoreSpec extends SparkSpec {

  private def freshRoot(tag: String): String =
    graft.engine.TempArtifacts.tempDir(s"graft-vstore-spec-$tag")

  /** Batch rows in the store's merge shape: (user_id, event_id, type,
    * value) with ts derived from event_id so later events always win the
    * (ts, event_id) argmax.
    */
  private def batch(xs: (Long, Long, String, Double)*): DataFrame = {
    import spark.implicits._
    xs.toSeq.toDF("user_id", "event_id", "event_type", "value")
      .select(col("user_id"),
        timestamp_micros(col("event_id") * 1000000L).as("last_ts"),
        col("event_id").as("last_event_id"),
        col("event_type").as("last_event_type"),
        col("value").as("last_value"), lit(1L).as("n_versions"),
        pmod(col("user_id"), lit(VersionedStore.Buckets.toLong))
          .as("bucket"))
  }

  private def snapshot(root: String, g: Int): Seq[(Long, Long, Int)] =
    VersionedStore.readAsOf(spark, root, g)
      .select("user_id", "last_event_id", "gen")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      .toSeq.sorted

  /** Every manifest field populated: 13 writer generations and 16
    * buckets (so "10" must sort after "9"), six removed buckets, a
    * two-key cluster order, and stat strings that need JSON escapes or
    * are non-ASCII.
    */
  private val goldenManifest: VersionedStore.Manifest = {
    import org.apache.spark.sql.types._
    val base = Seq(
      StructField("user_id", LongType), StructField("last_ts", TimestampType),
      StructField("last_event_id", LongType),
      StructField("last_event_type", StringType),
      StructField("last_value", DoubleType),
      StructField("n_versions", LongType))
    val note = StructField("note", StringType, nullable = true,
      new MetadataBuilder().putString("comment", "café \"ok\" ✓").build())
    val gens = 0 to 12
    val buckets = (0L to 15L).map(b => b -> (b % 13).toInt).toMap
    VersionedStore.Manifest(12, buckets, commitTs = 1760000000123L,
      kind = "update", schema = StructType(base :+ note),
      writerCols = gens.map(g => g ->
        (if (g < 6) base else base :+ note).map(_.name)).toMap,
      stats = buckets.keys.map(b => b -> Map(
        "user_id" -> (s"${b * 10}", s"${b * 10 + 9}"),
        "last_event_type" -> ("a\tb\u0001", "Zürich \"✓\" \\ end"),
        "note" -> ("", "日本語"))).toMap,
      removed = SortedSet(105L, 16L, 99L, 20L, 17L, 21L),
      writerDirs = gens.map(g => g -> f"tok-$g%02d-${g * 7919}%x").toMap,
      counts = buckets.keys.map(b => b -> VersionedStore.BucketCounts(
        100L + b, Map("last_value" -> b, "note" -> 0L,
          "last_event_type" -> 1L))).toMap,
      clusteredBy = Seq("user_id", "last_ts"))
  }

  /** Put `bytes` at generation `gen`'s manifest path under a fresh root. */
  private def manifestRoot(tag: String, gen: Int, bytes: Array[Byte]) = {
    val root = freshRoot(tag)
    val dir = java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(root, "_manifest"))
    java.nio.file.Files.write(dir.resolve(f"gen-$gen%05d.json"), bytes)
    root
  }

  test("the manifest on-disk format is pinned by a golden file") {
    val golden = {
      val in = getClass.getResourceAsStream("/manifest/gen-00012.json")
      try in.readAllBytes() finally in.close()
    }
    val m = VersionedStore.readManifest(
      manifestRoot("golden-read", 12, golden), 12)
    assert(m === goldenManifest)
    // every number unboxes as its declared type: cooperative equality
    // alone would let an erased Integer pass for a Long
    assert(m.buckets.keys.sum + m.buckets.values.sum + m.removed.sum +
      m.writerCols.keys.sum + m.writerDirs.keys.sum + m.stats.keys.sum +
      m.counts.keys.sum + m.counts.values.map(_.nulls.values.sum).sum > 0)
    val out = freshRoot("golden-write")
    VersionedStore.writeManifest(out, m)
    assert(new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths
      .get(out, "_manifest", "gen-00012.json")), "UTF-8") ===
      new String(golden, "UTF-8"))
    // a legacy manifest reads every absent field as its default
    val legacy = """{"gen":0,"buckets":{"0":0}}""".getBytes("UTF-8")
    assert(VersionedStore.readManifest(manifestRoot("golden-legacy", 0,
      legacy), 0) === VersionedStore.Manifest(0, Map(0L -> 0)))
    // ... and writes every map even when empty, but no empty removed or
    // clustered_by
    val minimal = freshRoot("golden-minimal")
    VersionedStore.writeManifest(minimal, VersionedStore.Manifest(0,
      Map(0L -> 0)))
    val text = new String(java.nio.file.Files.readAllBytes(java.nio.file
      .Paths.get(minimal, "_manifest", "gen-00000.json")), "UTF-8")
    assert(text.startsWith(
      """{"gen":0,"kind":"ingest","commit_ts":-1,"schema":{"""), text)
    assert(text.endsWith(""""writer_cols":{},"buckets":{"0":0},""" +
      """"stats":{},"writer_dirs":{},"counts":{}}""" + "\n"), text)
    // a field this reader does not know is ignored
    val future = """{"gen":1,"kind":"compact","buckets":{"5":1},""" +
      """"future_field":{"x":[1,2]}}"""
    assert(VersionedStore.readManifest(manifestRoot("golden-unknown", 1,
      future.getBytes("UTF-8")), 1) ===
      VersionedStore.Manifest(1, Map(5L -> 1), kind = "compact"))
  }

  test("snapshots are generation-isolated and manifests carry forward") {
    val root = freshRoot("iso")
    // gen 0 touches buckets 1 and 2; gen 1 touches ONLY bucket 2
    VersionedStore.mergeGeneration(
      batch((1L, 10L, "a", 1.0), (2L, 11L, "b", 2.0)), 0, root)
    VersionedStore.mergeGeneration(batch((2L, 20L, "c", 3.0)), 1, root)
    // carry-forward: bucket 1 resolves to the gen-0 dir at snapshot 1
    val m1 = VersionedStore.readManifest(root, 1)
    assert(m1.buckets === Map(1L -> 0, 2L -> 1))
    // snapshot 0: both users at their gen-0 events
    assert(snapshot(root, 0) === Seq((1L, 10L, 0), (2L, 11L, 0)))
    // snapshot 1: user 2 advanced (gen=1), user 1 untouched (gen=0 dir)
    assert(snapshot(root, 1) === Seq((1L, 10L, 0), (2L, 20L, 1)))
    // n_versions accumulates across generations
    val nv = VersionedStore.readAsOf(spark, root, 1)
      .filter(col("user_id") === 2L)
      .select("n_versions").collect()(0).getLong(0)
    assert(nv === 2L)
  }

  test("a forked prefix is read-identical to its source and mutates " +
      "privately (r21 fixture-synthesis sharing)") {
    val src = freshRoot("fork-src")
    VersionedStore.mergeGeneration(
      batch((1L, 10L, "a", 1.0), (2L, 11L, "b", 2.0)), 0, src)
    VersionedStore.mergeGeneration(batch((2L, 20L, "c", 3.0)), 1, src)
    VersionedStore.mergeGeneration(batch((1L, 30L, "d", 4.0)), 2, src)
    // fork at gen 1: both snapshots byte-for-byte the source's, gen 2
    // absent (the prefix is a TRUNCATION, not a view)
    val fork = StoreFixture.forkStorePrefix(src, 1, "graft-fork-spec")
    assert(snapshot(fork, 0) === snapshot(src, 0))
    assert(snapshot(fork, 1) === snapshot(src, 1))
    assert(VersionedStore.latestGen(fork) === Some(1))
    // the fork continues the chain privately: its gen 2 diverges from
    // the source's and the SOURCE is untouched by the fork's commit
    VersionedStore.mergeGeneration(batch((2L, 40L, "e", 5.0)), 2, fork)
    assert(snapshot(fork, 2) === Seq((1L, 10L, 0), (2L, 40L, 2)))
    assert(snapshot(src, 2) === Seq((1L, 30L, 2), (2L, 20L, 1)))
    assert(VersionedStore.latestGen(src) === Some(2))
  }

  test("generation numbering is gap- and replay-proof") {
    val root = freshRoot("guard")
    intercept[IllegalArgumentException] {
      VersionedStore.mergeGeneration(batch((1L, 1L, "a", 0.0)), 1, root)
    }
    VersionedStore.mergeGeneration(batch((1L, 1L, "a", 0.0)), 0, root)
    intercept[IllegalArgumentException] { // replay of gen 0
      VersionedStore.mergeGeneration(batch((1L, 2L, "b", 0.0)), 0, root)
    }
    intercept[IllegalArgumentException] { // gap to gen 2
      VersionedStore.mergeGeneration(batch((1L, 2L, "b", 0.0)), 2, root)
    }
  }

  private def stagedDirs(root: String): Seq[String] =
    Option(new java.io.File(s"$root/data").listFiles()).toSeq.flatten
      .filter(f => f.isDirectory && f.getName.startsWith(".staged-"))
      .map(_.getName)

  test("a batch routing rows to a bucket id outside [0, Buckets) or to " +
      "a NULL bucket is rejected before it commits") {
    val root = freshRoot("unroutable")
    VersionedStore.mergeGeneration(batch((1L, 10L, "a", 1.0)), 0, root)
    val rows = batch((2L, 20L, "b", 2.0))
    // lookupKey routes every key into [0, Buckets): a manifest entry
    // outside it could never be read back by key
    Seq(lit(VersionedStore.Buckets.toLong), lit(-1L), lit(null).cast("long"))
      .foreach { b =>
        intercept[IllegalArgumentException] {
          VersionedStore.commitBatch(rows.withColumn("bucket", b), root)
        }
      }
    // a NULL id behind a touchedHint is caught on the staged stats
    intercept[IllegalArgumentException] {
      VersionedStore.mergeGeneration(
        rows.withColumn("bucket", lit(null).cast("long")), 1, root,
        touchedHint = Some(Nil))
    }
    assert(VersionedStore.latestGen(root) === Some(0))
    assert(stagedDirs(root).isEmpty)
  }

  test("a touchedHint that omits a bucket the batch writes fails loudly " +
      "instead of dropping that bucket's staged rows") {
    val root = freshRoot("hint")
    // users 1 and 2 route to buckets 1 and 2
    val rows = batch((1L, 10L, "a", 1.0), (2L, 11L, "b", 2.0))
    intercept[IllegalArgumentException] {
      VersionedStore.mergeGeneration(rows, 0, root,
        touchedHint = Some(Seq(1L)))
    }
    assert(VersionedStore.latestGen(root) === None)
    assert(stagedDirs(root).isEmpty)
    // the exact hint commits both buckets
    VersionedStore.mergeGeneration(rows, 0, root,
      touchedHint = Some(Seq(2L, 1L)))
    assert(snapshot(root, 0) === Seq((1L, 10L, 0), (2L, 11L, 0)))
  }

  private def fileDigest(dir: java.io.File): Map[String, String] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
      else Seq(f)
    walk(dir).filter(_.getName.endsWith(".parquet")).map { f =>
      val md = java.security.MessageDigest.getInstance("SHA-256")
      val h = md.digest(java.nio.file.Files.readAllBytes(f.toPath))
      f.getPath -> h.map("%02x".format(_)).mkString
    }.toMap
  }

  /** Craft a spool file in the versioned replay's on-disk contract:
    * (event_id, ts, user_id, event_type, value, __batch) with a
    * controlled mtime so the file source replays in order.
    */
  private def spoolFile(spool: String, b: Int, mtimeMs: Long,
      xs: (Long, Long, String, Double)*): Unit = {
    import spark.implicits._
    val stage = graft.engine.TempArtifacts.tempDir("graft-vspec-stage")
    xs.toSeq.toDF("user_id", "event_id", "event_type", "value")
      .select(col("event_id"),
        timestamp_micros(col("event_id") * 1000000L).as("ts"),
        col("user_id"), col("event_type"), col("value"),
        lit(b).cast("int").as("__batch"))
      .coalesce(1).write.mode("overwrite").parquet(stage)
    val part = new java.io.File(stage).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    val dest = java.nio.file.Paths.get(spool, f"b$b%03d.parquet")
    java.nio.file.Files.move(part.toPath, dest)
    dest.toFile.setLastModified(mtimeMs): Unit
    graft.engine.TempArtifacts.delete(stage)
  }

  test("a second stream continues the store; committed generations stay " +
      "byte-identical") {
    val root = freshRoot("cont")
    val base = System.currentTimeMillis() - 600000L
    val spoolA = graft.engine.TempArtifacts.tempDir("graft-vspec-spool-a")
    spoolFile(spoolA, 0, base, (1L, 10L, "a", 1.0), (2L, 11L, "b", 2.0))
    StoreFixture.driveVersionedStream(spark, spoolA, root)
    val gen0Before = fileDigest(
      new java.io.File(s"$root/data/gen=0"))
    assert(gen0Before.nonEmpty)
    // continuation: a NEW stream (fresh checkpoint, batch ids restart at
    // 0) appends generations 1..2 to the same store
    val spoolB = graft.engine.TempArtifacts.tempDir("graft-vspec-spool-b")
    spoolFile(spoolB, 0, base + 60000L, (1L, 20L, "c", 3.0))
    spoolFile(spoolB, 1, base + 120000L, (3L, 30L, "d", 4.0))
    StoreFixture.driveVersionedStream(spark, spoolB, root,
      startGen = 1)
    assert(VersionedStore.latestGen(root) === Some(2))
    // copy-on-write: generation 0's files are untouched by the appends
    assert(fileDigest(new java.io.File(s"$root/data/gen=0"))
      === gen0Before)
    // and the old snapshot still reads exactly its own state
    assert(snapshot(root, 0) === Seq((1L, 10L, 0), (2L, 11L, 0)))
    assert(snapshot(root, 2) ===
      Seq((1L, 20L, 1), (2L, 11L, 0), (3L, 30L, 2)))
  }

  test("vacuum keeps carry-forward-referenced dirs and drops the rest") {
    val root = freshRoot("vac")
    // gen 0 writes buckets 1 and 2; gen 1 rewrites ONLY bucket 2 — so
    // manifest 1 references gen0/bucket=1 (carry-forward) + gen1/bucket=2
    VersionedStore.mergeGeneration(
      batch((1L, 10L, "a", 1.0), (2L, 11L, "b", 2.0)), 0, root)
    VersionedStore.mergeGeneration(batch((2L, 20L, "c", 3.0)), 1, root)
    val before = snapshot(root, 1)
    val m1 = VersionedStore.readManifest(root, 1)
    val (dirs, manifests) = VersionedStore.vacuum(root, 1)
    // gen0/bucket=2 was referenced ONLY by the dropped manifest 0
    assert(dirs === 1)
    assert(manifests === 1)
    // the carried-forward gen0/bucket=1 dir survives the vacuum even
    // though generation 0's manifest is gone (path resolved through the
    // surviving manifest's carried writer-dir token)
    assert(new java.io.File(
      VersionedStore.bucketPath(root, m1, 0, 1L)).isDirectory)
    assert(!new java.io.File(
      VersionedStore.bucketPath(root, m1, 0, 2L)).exists())
    // surviving snapshot reads identically; vacuumed one fails loudly
    assert(snapshot(root, 1) === before)
    intercept[IllegalArgumentException] {
      VersionedStore.readAsOf(spark, root, 0)
    }
  }

  test("compaction is logically invisible and unreferences history") {
    val root = freshRoot("opt")
    VersionedStore.mergeGeneration(
      batch((1L, 10L, "a", 1.0), (2L, 11L, "b", 2.0)), 0, root)
    VersionedStore.mergeGeneration(
      batch((1L, 20L, "c", 3.0), (3L, 21L, "d", 4.0)), 1, root)
    val before = VersionedStore.readAsOf(spark, root, 1)
      .drop("gen").collect().map(_.toString).sorted.toSeq
    val g = VersionedStore.compact(spark, root)
    assert(g === 2)
    // logical no-op: same rows, same n_versions, every bucket now at g
    val after = VersionedStore.readAsOf(spark, root, g)
    assert(after.drop("gen").collect().map(_.toString).sorted.toSeq
      === before)
    assert(after.select("gen").distinct().collect()
      .map(_.getInt(0)).toSeq === Seq(g))
    // with the compaction as horizon, vacuum reclaims ALL older dirs
    val (dirs, manifests) = VersionedStore.vacuum(root, g)
    assert(dirs === 4) // gen0: buckets 1,2; gen1: buckets 1,3
    assert(manifests === 2)
    assert(!new java.io.File(s"$root/data/gen=0").exists())
    assert(!new java.io.File(s"$root/data/gen=1").exists())
    assert(VersionedStore.readAsOf(spark, root, g)
      .drop("gen").collect().map(_.toString).sorted.toSeq === before)
  }

  test("change feed: insert/update/delete classified, out-of-order " +
      "arrivals surfaced, insert-then-delete nets out") {
    val root = freshRoot("cdf")
    // from-snapshot state: users 1, 2, 10 (10 is forgettable)
    VersionedStore.mergeGeneration(
      batch((1L, 10L, "a", 1.0), (2L, 11L, "b", 2.0),
        (10L, 12L, "c", 3.0)), 0, root)
    // window: user 1 advances; user 2 gets an OUT-OF-ORDER event (id 5
    // sorts below 11 — argmax unmoved, n_versions grows); user 3 and
    // user 30 appear for the first time
    VersionedStore.mergeGeneration(
      batch((1L, 20L, "d", 4.0), (2L, 5L, "e", 5.0),
        (3L, 21L, "f", 6.0), (30L, 22L, "g", 7.0)), 1, root)
    // tombstones: user 10 (existed at from) and user 30 (inserted after
    // from — must net out of the feed entirely)
    val tomb = batch(
      (10L, -10L, StreamingQueries.TombstoneType, 0.0),
      (30L, -30L, StreamingQueries.TombstoneType, 0.0))
      .withColumn("last_ts",
        lit(java.sql.Timestamp.valueOf("2100-01-01 00:00:00")))
    VersionedStore.mergeGeneration(tomb, 2, root)
    val feed = VersionedStore.changesBetween(
      VersionedStore.readAsOf(spark, root, 0),
      VersionedStore.readAsOf(spark, root, 2),
      StreamingQueries.TombstoneType)
      .collect().map { r =>
        (r.getLong(0), r.getString(2),
          Option(r.get(3)).map(_.asInstanceOf[Long]),
          Option(r.get(4)).map(_.asInstanceOf[Long]),
          Option(r.get(5)).map(_.asInstanceOf[Long]))
      }.sortBy(_._1).toSeq
    assert(feed === Seq(
      (1L, "update", Some(10L), Some(20L), Some(1L)),
      (2L, "update", Some(11L), Some(11L), Some(1L)), // out-of-order
      (3L, "insert", None, Some(21L), Some(1L)),
      (10L, "delete", Some(12L), None, None)))
    // user 30 (insert-then-delete) must be absent — proven by the exact
    // sequence equality above
  }

  test("change feed: a NULL-key row diffs as an update, not as an " +
      "orphaned insert") {
    val root = freshRoot("cdfnull")
    // the upsert discipline routes a null key to a REAL bucket; the
    // store therefore REPRESENTS null-key rows and the feed's join
    // must match them null-safely across snapshots
    def nullRow(eid: Long): org.apache.spark.sql.DataFrame =
      batch((7L, eid + 100, "x", 1.0)).limit(0).unionByName(
        batch((7L, eid + 100, "x", 1.0)).select(
          lit(null: java.lang.Long).as("user_id"), col("last_ts"),
          lit(eid).as("last_event_id"), col("last_event_type"),
          col("last_value"), col("n_versions"), lit(15L).as("bucket")))
    VersionedStore.mergeGeneration(
      batch((7L, 1L, "a", 1.0)).unionByName(nullRow(2L)), 0, root)
    VersionedStore.mergeGeneration(nullRow(3L), 1, root)
    val feed = VersionedStore.changesBetween(
      VersionedStore.readAsOf(spark, root, 0),
      VersionedStore.readAsOf(spark, root, 1),
      StreamingQueries.TombstoneType).collect()
      .map(r => (Option(r.get(0)), r.getString(2),
        r.get(3).asInstanceOf[Long], r.get(4).asInstanceOf[Long]))
    // exactly ONE change: the null-key row advanced 2 -> 3; user 7 is
    // untouched and must not appear
    assert(feed.toSeq === Seq((None, "update", 2L, 3L)))
  }

  test("the shared store is ingested once per (session, fixture): the " +
      "second consumer runs zero ingest jobs") {
    // first consumer pays the replay (builds the memo)
    graft.streaming.StreamingQueries.timeTravel(spark, sf).count()
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          s: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet(): Unit
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      // building the second consumer's FRAME must launch no jobs at all
      // (the memoized root resolves without touching Spark); executing
      // it then costs only its own read-side jobs, not a re-ingest —
      // pinned by the job count staying far under the jobs the five
      // direct merge commits (ntile cache + per-generation touched
      // collect, staged write and stats) launch.
      // the listener bus is async — drain before each read
      val df = graft.streaming.StreamingQueries.forgetAudit(spark, sf)
      Thread.sleep(1000)
      val jobsAfterPlan = jobs.get()
      assert(jobsAfterPlan === 0,
        s"planning the second consumer launched $jobsAfterPlan jobs")
      df.count()
      Thread.sleep(1000)
      assert(jobs.get() < 15,
        s"second consumer ran ${jobs.get()} jobs — re-ingested?")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("the stream replay and the direct build commit the same store: " +
      "rows, writer generations and commit timestamps") {
    val replayed = StoreFixture.replayToStore(spark, sf,
      freshRoot("replay-eq"), withTombstones = true)
    val direct = StoreFixture.sharedStore(spark, sf,
      StreamingQueries.TimeTravelGens, StreamingQueries.TimeTravelGens,
      withTombstones = true)
    val last = StreamingQueries.TimeTravelGens
    def rows(root: String, g: Int) =
      VersionedStore.readAsOf(spark, root, g)
        .select("user_id", "bucket", "gen", "last_ts", "last_event_id",
          "last_event_type", "last_value", "n_versions")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
          r.getTimestamp(3), r.getLong(4), r.getString(5), r.getDouble(6),
          r.getLong(7))).toSeq.sortBy(t => (t._1, t._2))
    assert(VersionedStore.latestGen(replayed) === Some(last))
    assert(VersionedStore.latestGen(direct) === Some(last))
    (0 to last).foreach { g =>
      val r = rows(replayed, g)
      assert(r.nonEmpty, s"generation $g is empty")
      assert(r === rows(direct, g), s"snapshot $g differs")
      val (mr, md) = (VersionedStore.readManifest(replayed, g),
        VersionedStore.readManifest(direct, g))
      assert(mr.buckets === md.buckets, s"bucket map $g differs")
      assert(mr.commitTs === md.commitTs, s"commit ts $g differs")
      assert(mr.commitTs === StreamingQueries.StoreCommitBase +
        g * StreamingQueries.StoreCommitStepMs)
    }
    // not vacuous: the last generation holds the tombstone winners
    assert(rows(direct, last)
      .exists(_._6 == StreamingQueries.TombstoneType))
  }

  test("OCC: a compaction landing between merge and commit makes the " +
      "ingest rebase — and the interleaved schedule equals the serial one") {
    def build(root: String, interleaved: Boolean): Unit = {
      VersionedStore.mergeGeneration(
        batch((1L, 10L, "a", 1.0), (2L, 11L, "b", 2.0)), 0, root)
      VersionedStore.mergeGeneration(batch((3L, 12L, "c", 3.0)), 1, root)
      // the racing batch: update user 1 (bucket 1), insert user 4
      // (bucket 4); buckets 2 and 3 are untouched carry-forward
      val b3 = batch((1L, 20L, "d", 4.0), (4L, 21L, "e", 5.0))
      if (interleaved) {
        var raced = false
        val g = VersionedStore.commitBatch(b3, root,
          beforeClaim = _ => if (!raced) {
            raced = true
            VersionedStore.compact(spark, root): Unit
          })
        assert(g === 3, "the raced ingest must rebase to generation 3")
      } else {
        assert(VersionedStore.compact(spark, root) === 2)
        assert(VersionedStore.commitBatch(b3, root) === 3)
      }
    }
    val i = freshRoot("occ-i"); val s = freshRoot("occ-s")
    build(i, interleaved = true); build(s, interleaved = false)
    def full(root: String): Seq[String] =
      VersionedStore.readAsOf(spark, root, 3)
        .collect().map(_.toString).sorted.toSeq
    // row-for-row equality INCLUDING the gen/bucket metadata columns:
    // the rebase produced exactly the serial schedule's snapshot AND
    // manifest layer (touched buckets at 3, carry-forward at the
    // compaction's 2)
    assert(full(i) === full(s))
    assert(VersionedStore.readAsOf(spark, i, 3)
      .filter(col("user_id").isin(2L, 3L))
      .select("gen").distinct().collect().map(_.getInt(0)).toSeq
      === Seq(2))
  }

  test("OCC: two ingests racing on the same bucket is a semantic " +
      "conflict and fails loudly; disjoint buckets rebase instead") {
    val root = freshRoot("occ-conflict")
    VersionedStore.mergeGeneration(batch((1L, 10L, "a", 1.0)), 0, root)
    // overlapping: users 1 and 17 both route to bucket 1
    var raced = false
    intercept[VersionedStore.BucketConflictException] {
      VersionedStore.commitBatch(batch((1L, 20L, "b", 2.0)), root,
        beforeClaim = _ => if (!raced) {
          raced = true
          VersionedStore.commitBatch(
            batch((17L, 21L, "c", 3.0)), root): Unit
        })
    }
    // the winner's commit survives the loser's failure; its bucket-1
    // merge carried user 1's row into the gen-1 dir (bucket-granular
    // copy-on-write), hence gen=1 for both
    assert(snapshot(root, 1) === Seq((1L, 10L, 1), (17L, 21L, 1)))
    // disjoint: user 2 (bucket 2) rebases over a racing user-18
    // (bucket 2)? no — 18 % 16 = 2 would overlap; use 35 (bucket 3)
    var raced2 = false
    val g = VersionedStore.commitBatch(batch((2L, 30L, "d", 4.0)), root,
      beforeClaim = _ => if (!raced2) {
        raced2 = true
        VersionedStore.commitBatch(
          batch((35L, 31L, "e", 5.0)), root): Unit
      })
    assert(g === 3)
    assert(snapshot(root, 3) === Seq((1L, 10L, 1), (2L, 30L, 3),
      (17L, 21L, 1), (35L, 31L, 2)))
  }

  test("OCC: a racing deleteWhere that EMPTIED an overlapping bucket is " +
      "a semantic conflict — rebase must not resurrect the deleted rows") {
    import VersionedStore.StorePredicate._
    val root = freshRoot("occ-del-empty")
    // bucket 1 holds ONLY user 1 (the purge target); bucket 2 is ballast
    VersionedStore.mergeGeneration(
      batch((1L, 10L, "purge", 1.0), (2L, 11L, "keep", 2.0)), 0, root)
    // our batch touches bucket 1 (user 17) — its staged merge CONTAINS
    // user 1's pre-delete row; the racing delete then empties bucket 1,
    // dropping it from the manifest entirely (the form the plain
    // gw == wg overlap scan cannot see)
    var raced = false
    intercept[VersionedStore.BucketConflictException] {
      VersionedStore.commitBatch(batch((17L, 20L, "view", 3.0)), root,
        beforeClaim = _ => if (!raced) {
          raced = true
          val dg = VersionedStore.deleteWhere(spark, root,
            EqTo("last_event_type", "purge"))
          assert(dg === 1)
          // the delete EMPTIED bucket 1: gone from the live set, named
          // in the manifest's removed list
          val dm = VersionedStore.readManifest(root, dg)
          assert(!dm.buckets.contains(1L))
          assert(dm.removed === Set(1L))
        })
    }
    // the delete's guarantee holds: user 1 stays gone at the latest
    assert(VersionedStore.latestGen(root) === Some(1))
    assert(snapshot(root, 1).map(_._1) === Seq(2L))
    // DISJOINT case: the same race against a batch touching bucket 3
    // rebases fine and the purged rows stay purged
    val root2 = freshRoot("occ-del-disjoint")
    VersionedStore.mergeGeneration(
      batch((1L, 10L, "purge", 1.0), (2L, 11L, "keep", 2.0)), 0, root2)
    var raced2 = false
    val g = VersionedStore.commitBatch(batch((35L, 20L, "view", 3.0)),
      root2, beforeClaim = _ => if (!raced2) {
        raced2 = true
        VersionedStore.deleteWhere(spark, root2,
          EqTo("last_event_type", "purge")): Unit
      })
    assert(g === 2)
    assert(snapshot(root2, g) === Seq((2L, 11L, 0), (35L, 20L, 2)))
  }

  test("timestamp time travel: at-or-before resolution, exact-on-commit " +
      "boundary, pre-history fails, non-monotonic fixture clock rejected") {
    val root = freshRoot("ts")
    VersionedStore.mergeGeneration(batch((1L, 10L, "a", 1.0)), 0, root,
      commitTs = 1000L)
    VersionedStore.mergeGeneration(batch((1L, 20L, "b", 2.0)), 1, root,
      commitTs = 2000L)
    def eidAt(ts: Long): Long =
      VersionedStore.readAsOfTimestamp(spark, root, ts)
        .select("last_event_id").collect()(0).getLong(0)
    assert(eidAt(1500L) === 10L) // strictly between -> earlier commit
    assert(eidAt(2000L) === 20L) // exactly ON a commit -> that commit
    assert(eidAt(1999L) === 10L) // one tick before -> still the earlier
    assert(eidAt(9999L) === 20L) // after everything -> latest
    intercept[IllegalArgumentException] { // before the first commit
      VersionedStore.readAsOfTimestamp(spark, root, 999L)
    }
    intercept[IllegalArgumentException] { // clock must move forward
      VersionedStore.mergeGeneration(batch((1L, 30L, "c", 3.0)), 2, root,
        commitTs = 1500L)
    }
  }

  test("schema evolution: an added column null-pads carry-forward " +
      "buckets AND pre-evolution winners inside touched buckets; drops " +
      "and type changes fail loudly; vacuum keeps the metadata") {
    val root = freshRoot("evo")
    // gen 0: buckets 1 (user 1) and 2 (users 2, 18)
    VersionedStore.mergeGeneration(
      batch((1L, 10L, "a", 1.0), (2L, 11L, "b", 2.0),
        (18L, 12L, "c", 3.0)), 0, root)
    // gen 1 adds `tag` and touches ONLY bucket 2, only user 2 — user 18
    // is rewritten into the gen-1 dir as a pre-evolution argmax winner
    VersionedStore.mergeGeneration(
      batch((2L, 20L, "d", 4.0)).withColumn("tag", lit("x")), 1, root)
    def tags(g: Int): Map[Long, Option[String]] =
      VersionedStore.readAsOf(spark, root, g)
        .select("user_id", "tag").collect()
        .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(tags(1) === Map(1L -> None, 2L -> Some("x"), 18L -> None))
    // the pre-evolution snapshot doesn't even HAVE the column
    assert(!VersionedStore.readAsOf(spark, root, 0)
      .columns.contains("tag"))
    // rejects: dropping a column / changing a type
    intercept[IllegalArgumentException] {
      VersionedStore.mergeGeneration(
        batch((3L, 30L, "e", 5.0)).drop("last_value"), 2, root)
    }
    intercept[IllegalArgumentException] {
      VersionedStore.mergeGeneration(
        batch((3L, 30L, "e", 5.0))
          .withColumn("last_value", col("last_value").cast("float")),
        2, root)
    }
    // schema metadata survives vacuum: manifest 0 is dropped, but the
    // carried-forward gen-0 bucket 1 still reads null-padded through
    // manifest 1's writer_cols
    VersionedStore.vacuum(root, 1)
    assert(tags(1) === Map(1L -> None, 2L -> Some("x"), 18L -> None))
  }

  test("restore is manifest-only, survives a vacuum that drops the " +
      "rolled-back window, and a vacuumed target fails loudly") {
    val root = freshRoot("restore")
    VersionedStore.mergeGeneration(
      batch((1L, 10L, "a", 1.0), (2L, 11L, "b", 2.0)), 0, root)
    VersionedStore.mergeGeneration(
      batch((1L, 20L, "c", 3.0), (3L, 21L, "d", 4.0)), 1, root)
    val dataBefore = fileDigest(new java.io.File(s"$root/data"))
    val g = VersionedStore.restore(root, 0)
    assert(g === 2)
    // manifest-only: not one data byte moved
    assert(fileDigest(new java.io.File(s"$root/data")) === dataBefore)
    // the restored latest reads EXACTLY snapshot 0, old writer gens
    assert(snapshot(root, 2) === snapshot(root, 0))
    // the rolled-back window is still readable pre-vacuum
    assert(snapshot(root, 1) ===
      Seq((1L, 20L, 1), (2L, 11L, 0), (3L, 21L, 1)))
    // the chain continues FORWARD from the restore; the gen-1 events
    // are erased from the live timeline
    VersionedStore.mergeGeneration(batch((2L, 30L, "e", 5.0)), 3, root)
    assert(snapshot(root, 3) === Seq((1L, 10L, 0), (2L, 30L, 3)))
    // vacuum at the restore horizon drops the rolled-back gen-1 dirs
    // but KEEPS the re-referenced gen-0 dirs (the restore manifest's
    // carry-forward entries make them live)
    VersionedStore.vacuum(root, 2)
    assert(!new java.io.File(s"$root/data/gen=1").exists())
    assert(new java.io.File(VersionedStore.bucketPath(root,
      VersionedStore.readManifest(root, 3), 0, 1L)).isDirectory)
    assert(snapshot(root, 3) === Seq((1L, 10L, 0), (2L, 30L, 3)))
    // restoring a vacuumed generation fails at its manifest read
    intercept[IllegalArgumentException] {
      VersionedStore.restore(root, 1)
    }
  }

  test("OCC: an in-flight batch racing a RESTORE is always a semantic " +
      "conflict — its merge saw the pre-restore state") {
    val root = freshRoot("restore-race")
    VersionedStore.mergeGeneration(batch((1L, 10L, "a", 1.0)), 0, root)
    VersionedStore.mergeGeneration(batch((2L, 11L, "b", 2.0)), 1, root)
    var raced = false
    intercept[VersionedStore.BucketConflictException] {
      // the batch touches bucket 3 — DISJOINT from everything, so only
      // the restore rule (not the overlap rule) can reject it
      VersionedStore.commitBatch(batch((35L, 20L, "c", 3.0)), root,
        beforeClaim = _ => if (!raced) {
          raced = true
          VersionedStore.restore(root, 0): Unit
        })
    }
    // the restore won; the loser left no trace
    assert(VersionedStore.latestGen(root) === Some(2))
    assert(snapshot(root, 2) === snapshot(root, 0))
  }

  test("compaction of an EVOLVED store rewrites under the full schema " +
      "and keeps the null-padding") {
    val root = freshRoot("evo-opt")
    VersionedStore.mergeGeneration(
      batch((1L, 10L, "a", 1.0), (2L, 11L, "b", 2.0)), 0, root)
    VersionedStore.mergeGeneration(
      batch((2L, 20L, "c", 3.0)).withColumn("tag", lit("x")), 1, root)
    val g = VersionedStore.compact(spark, root)
    VersionedStore.vacuum(root, g)
    // post-compaction: one generation, full evolved schema, the
    // pre-evolution row still null in the added column
    val rows = VersionedStore.readAsOf(spark, root, g)
      .select("user_id", "tag", "gen").collect()
      .map(r => (r.getLong(0), Option(r.getString(1)), r.getInt(2)))
      .toSeq.sortBy(_._1)
    assert(rows === Seq((1L, None, g), (2L, Some("x"), g)))
  }

  test("change feeds compose: applying changes(0->1) then changes(1->2) " +
      "reproduces snapshot 2, and changes(0->2) nets intermediate flips") {
    val root = freshRoot("cdf-comp")
    VersionedStore.mergeGeneration(
      batch((1L, 10L, "a", 1.0), (2L, 11L, "b", 2.0),
        (10L, 12L, "c", 3.0)), 0, root)
    VersionedStore.mergeGeneration(
      batch((1L, 20L, "d", 4.0), (3L, 21L, "e", 5.0),
        (30L, 22L, "f", 6.0)), 1, root)
    val tomb = batch(
      (10L, -10L, StreamingQueries.TombstoneType, 0.0),
      (30L, -30L, StreamingQueries.TombstoneType, 0.0))
      .withColumn("last_ts",
        lit(java.sql.Timestamp.valueOf("2100-01-01 00:00:00")))
    VersionedStore.mergeGeneration(
      tomb.unionByName(batch((3L, 23L, "g", 7.0), (5L, 24L, "h", 8.0))),
      2, root)
    def snap(g: Int) = VersionedStore.readAsOf(spark, root, g)
    def state(g: Int): Map[Long, (Long, Long)] = snap(g)
      .filter(col("last_event_type") =!= StreamingQueries.TombstoneType)
      .select("user_id", "last_event_id", "n_versions").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    def feed(a: Int, b: Int): Seq[(Long, String, Long, Long)] =
      VersionedStore.changesBetween(snap(a), snap(b),
        StreamingQueries.TombstoneType).collect().map { r =>
        (r.getLong(0), r.getString(2),
          Option(r.get(4)).map(_.asInstanceOf[Long]).getOrElse(-1L),
          Option(r.get(5)).map(_.asInstanceOf[Long]).getOrElse(0L))
      }.toSeq
    def apply(s: Map[Long, (Long, Long)],
        f: Seq[(Long, String, Long, Long)]): Map[Long, (Long, Long)] =
      f.foldLeft(s) { case (m, (u, change, toEid, nvDelta)) =>
        change match {
          case "delete" => m - u
          case _ =>
            val nv = m.get(u).map(_._2).getOrElse(0L) + nvDelta
            m + (u -> (toEid, nv))
        }
      }
    val (s0, s2) = (state(0), state(2))
    // stepwise application reproduces the final state exactly
    assert(apply(apply(s0, feed(0, 1)), feed(1, 2)) === s2)
    // the direct feed reproduces it too, and NETS the intermediate
    // flips: user 30 (insert at 1, delete at 2) appears in neither the
    // direct feed nor the final state
    assert(apply(s0, feed(0, 2)) === s2)
    assert(!feed(0, 2).exists(_._1 == 30L))
    assert(feed(0, 1).exists(f => f._1 == 30L && f._2 == "insert"))
    assert(feed(1, 2).exists(f => f._1 == 30L && f._2 == "delete"))
    // user 3: two updates across the windows -> ONE direct update whose
    // nv_delta is the sum (insert at 1 + update at 2 -> direct insert)
    assert(feed(0, 2).collect { case (3L, c, e, d) => (c, e, d) }
      === Seq(("insert", 23L, 2L)))
  }

  test("manifest-pruned change feed: scans only the buckets whose " +
      "writer generation moved, emits exactly the full-snapshot feed") {
    val root = freshRoot("cdf-pruned")
    // gen 0 writes buckets 1, 2, 3; gen 1 touches ONLY bucket 2
    VersionedStore.mergeGeneration(
      batch((1L, 10L, "a", 1.0), (2L, 11L, "b", 2.0),
        (3L, 12L, "c", 3.0)), 0, root)
    VersionedStore.mergeGeneration(batch((2L, 20L, "d", 4.0)), 1, root)
    val pruned = VersionedStore.changesBetweenGens(spark, root, 0, 1,
      StreamingQueries.TombstoneType)
    // both sides scan ONLY bucket 2's dirs (from: gen0/bucket=2,
    // to: gen1/bucket=2) — buckets 1 and 3 share a writer and are
    // provably changeless (the per-attempt w token is layout noise)
    val scanned = scanRootPaths(pruned)
      .map(p => p.substring(p.indexOf("/data/") + 6)
        .replaceAll("/w=[^/]+", "")).sorted
    assert(scanned === Seq("gen=0/bucket=2", "gen=1/bucket=2"), scanned)
    val full = VersionedStore.changesBetween(
      VersionedStore.readAsOf(spark, root, 0),
      VersionedStore.readAsOf(spark, root, 1),
      StreamingQueries.TombstoneType)
    assert(pruned.collect().map(_.toString).sorted.toSeq
      === full.collect().map(_.toString).sorted.toSeq)
    assert(pruned.count() === 1L) // the one updated key
  }

  test("readWhereSql: the planner's pushdown drives the zone map " +
      "(the hand parser is retired); unsupported constructs scan " +
      "conservatively; rows always equal the full filter") {
    val root = freshRoot("sqlpred")
    VersionedStore.mergeGeneration(
      batch((1L, 10L, "a", 1.0), (17L, 11L, "a", 2.0),
        (2L, 12L, "b", 10.0), (18L, 13L, "b", 11.0),
        (3L, 14L, "c", 100.0)), 0, root)
    def rootsOf(sql: String): Seq[String] =
      dsv2ScanPaths(VersionedStore.readWhereSql(spark, root, 0, sql))
        .map(p => p.substring(p.lastIndexOf('/') + 1)).sorted
    def ids(sql: String): Seq[Long] =
      VersionedStore.readWhereSql(spark, root, 0, sql)
        .select("user_id").collect().map(_.getLong(0)).sorted.toSeq
    // range skeleton prunes to bucket 2 exactly like the ADT path
    assert(rootsOf("last_value BETWEEN 5 AND 50") === Seq("bucket=2"))
    assert(ids("last_value BETWEEN 5 AND 50") === Seq(2L, 18L))
    // IN-list = a disjunction of equalities; strict > prunes as >=
    assert(rootsOf("last_event_type IN ('c')") === Seq("bucket=3"))
    assert(rootsOf("last_value > 11") === Seq("bucket=2", "bucket=3"))
    // mirrored operand order
    assert(rootsOf("99 <= last_value") === Seq("bucket=3"))
    // And(unmappable, mappable) still prunes on the mappable side
    // (bucket 1's values are below 5), and the unmappable conjunct
    // still FILTERS the scanned rows
    assert(rootsOf("user_id % 2 = 0 AND last_value >= 5") ===
      Seq("bucket=2", "bucket=3"))
    assert(ids("user_id % 2 = 0 AND last_value >= 5") === Seq(2L, 18L))
    // Or with an unmappable side cannot prune: all three buckets scan
    assert(rootsOf("user_id % 2 = 0 OR last_value >= 5").size === 3)
    // a quoted literal against a bigint column scans, never throws
    assert(ids("user_id = '17'") === Seq(17L))
    // timestamp literal prunes through the micros normalization
    // (batch ts = event_id seconds; only bucket 3 reaches 14s)
    assert(rootsOf("last_ts >= TIMESTAMP '1970-01-01 00:00:13Z'")
      === Seq("bucket=2", "bucket=3"))
  }

  test("SqlWhere: an ANSI SQL string is a first-class store predicate " +
      "— prunes through the shared filter translation, drives DML, " +
      "and stays conservative on untranslatable subtrees") {
    import VersionedStore.StorePredicate._
    val root = freshRoot("sqlwhere")
    VersionedStore.mergeGeneration(
      batch((1L, 10L, "a", 1.0), (17L, 11L, "a", 2.0),
        (2L, 12L, "b", 10.0), (18L, 13L, "b", 11.0),
        (3L, 14L, "c", 100.0)), 0, root)
    val m = VersionedStore.readManifest(root, 0)
    // pruning skeleton via Spark's own filter translation
    assert(VersionedStore.survivingBuckets(m,
      SqlWhere("last_value BETWEEN 5 AND 50")) === Set(2L))
    // And(unmappable, mappable) prunes on the mappable conjunct
    assert(VersionedStore.survivingBuckets(m,
      SqlWhere("user_id % 2 = 0 AND last_value >= 5")) === Set(2L, 3L))
    // fully untranslatable -> conservative full scan
    assert(VersionedStore.survivingBuckets(m,
      SqlWhere("user_id % 2 = 0")) === Set(1L, 2L, 3L))
    // readWhere accepts it like any predicate: pruned scan, same rows
    val df = VersionedStore.readWhere(spark, root, 0,
      SqlWhere("last_value BETWEEN 5 AND 50"))
    assert(scanRootPaths(df).map(p =>
      p.substring(p.lastIndexOf('/') + 1)) === Seq("bucket=2"))
    assert(df.select("user_id").collect().map(_.getLong(0)).sorted.toSeq
      === Seq(2L, 18L))
    // SQL-string DELETE: empties bucket 3, records it, leaves the rest
    val dg = VersionedStore.deleteWhere(spark, root,
      SqlWhere("last_event_type = 'c'"))
    val dm = VersionedStore.readManifest(root, dg)
    assert(dm.removed === Set(3L) && !dm.buckets.contains(3L))
    assert(snapshot(root, dg).map(_._1) === Seq(1L, 2L, 17L, 18L))
    // SQL-string UPDATE: redacts exactly the band rows
    val ug = VersionedStore.updateWhere(spark, root,
      SqlWhere("last_value >= 10"), Seq("last_value" -> lit(0.0)))
    assert(VersionedStore.readAsOf(spark, root, ug)
      .select("user_id", "last_value").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq.sortBy(_._1)
      === Seq((1L, 1.0), (2L, 0.0), (17L, 2.0), (18L, 0.0)))
    // a bad predicate fails loudly at first use
    intercept[Exception] {
      VersionedStore.survivingBuckets(m, SqlWhere("no_such_col = 1"))
    }
  }

  test("change feed surfaces PHYSICAL absence as delete: predicate-" +
      "purged keys and restore-erased inserts, with insert-then-purge " +
      "netting out") {
    import VersionedStore.StorePredicate._
    val root = freshRoot("cdf-absent")
    VersionedStore.mergeGeneration(
      batch((1L, 10L, "keep", 1.0), (2L, 11L, "purge", 2.0)), 0, root)
    // user 3 inserted AND purged inside the window -> must net out
    VersionedStore.mergeGeneration(batch((3L, 12L, "purge", 3.0)), 1, root)
    val dg = VersionedStore.deleteWhere(spark, root,
      EqTo("last_event_type", "purge"))
    def feed(a: Int, b: Int) =
      VersionedStore.changesBetweenGens(spark, root, a, b,
        StreamingQueries.TombstoneType).collect()
        .map(r => (r.getLong(0), r.getString(2))).sorted.toSeq
    // across the delete generation: user 2's purge is a DELETE, user 3
    // (insert-then-purge) is absent on both sides and nets out
    assert(feed(0, dg) === Seq((2L, "delete")))
    // and the MV apply contract holds across it end-to-end
    val s0 = VersionedStore.readAsOf(spark, root, 0)
      .select(col("user_id"), col("bucket"),
        col("last_event_id"), col("n_versions"))
    // restore-erased insert: roll back to generation 0 — user 3's
    // insert (gen 1) must read as a delete in the 1 -> restore feed
    val rg = VersionedStore.restore(root, 0)
    assert(feed(1, rg).contains((3L, "delete")))
    assert(s0.count() === 2L)
  }

  test("a crashed commit's orphan claim dir never blocks the retry and " +
      "is never touched by it; vacuum sweeps abandoned staged dirs") {
    val root = freshRoot("orphan")
    VersionedStore.mergeGeneration(batch((1L, 10L, "a", 1.0)), 0, root)
    // simulate a commit that died between the data rename and the
    // manifest write: a tokened gen=1 claim dir with NO manifest
    // (uncommitted by definition). Round 19: the retry claims under a
    // FRESH private token and does not delete what it did not write —
    // the orphan is reader-invisible (no manifest names its token) and
    // vacuum reclaims it under the staged age gate.
    val orphan = new java.io.File(s"$root/data/gen=1/w=deadbeef/bucket=0")
    assert(orphan.mkdirs())
    java.nio.file.Files.writeString(
      new java.io.File(orphan, "junk").toPath, "crashed"): Unit
    VersionedStore.mergeGeneration(batch((2L, 20L, "b", 2.0)), 1, root)
    assert(snapshot(root, 1) === Seq((1L, 10L, 0), (2L, 20L, 1)))
    // untouched by the retry; a default-retention vacuum keeps the
    // fresh orphan (it could be ANOTHER driver's in-flight claim), a
    // zero-retention one reclaims it
    assert(new java.io.File(orphan, "junk").exists())
    VersionedStore.vacuum(root, 1)
    assert(new java.io.File(orphan, "junk").exists())
    VersionedStore.vacuum(root, 1, stagedRetentionMs = 0L)
    assert(!orphan.exists())
    assert(snapshot(root, 1) === Seq((1L, 10L, 0), (2L, 20L, 1)))
    // an abandoned staged dir (crash BEFORE the rename) is vacuumed —
    // but ONLY past the retention horizon: a fresh unregistered dir
    // (another driver's in-flight commit, cross-driver guard) survives
    // the default sweep and goes once aged out
    val staged = new java.io.File(s"$root/data/.staged-dead")
    assert(staged.mkdirs())
    VersionedStore.vacuum(root, 1)
    assert(staged.exists(), "a fresh staged dir must survive the " +
      "default retention window")
    VersionedStore.vacuum(root, 1, stagedRetentionMs = 0L)
    assert(!staged.exists())
    // a crashed claimant's lock file for a generation nobody re-claims:
    // swept by vacuum once stale, kept while fresh
    val lock = new java.io.File(s"$root/_manifest/claim-00009.lock")
    java.nio.file.Files.writeString(lock.toPath, "dead"): Unit
    VersionedStore.vacuum(root, 1)
    assert(lock.exists(), "a FRESH lock must survive the sweep")
    assert(lock.setLastModified(System.currentTimeMillis() -
      VersionedStore.ClaimLockStaleMs - 60000L))
    VersionedStore.vacuum(root, 1)
    assert(!lock.exists(), "a STALE lock must be swept")
  }

  test("vacuum fired inside an in-flight commit's staged->claim window " +
      "leaves the commit able to claim (the r17 maintenance-vs-ingest " +
      "race); a throwing claim reclaims its staged dir") {
    val root = freshRoot("vac-race")
    VersionedStore.mergeGeneration(batch((1L, 10L, "a", 1.0)), 0, root)
    def stagedDirs(): Seq[String] =
      Option(new java.io.File(s"$root/data").listFiles()).toSeq.flatten
        .filter(f => f.isDirectory && f.getName.startsWith(".staged-"))
        .map(_.getName)
    // the maintenance job runs INSIDE the window the beforeClaim hook
    // stretches — retention 0 so only the live registry protects the
    // writer's staged merge (the exact r17 what's-wrong #1 scenario)
    var fired = false
    val g = VersionedStore.commitBatch(batch((2L, 20L, "b", 2.0)), root,
      beforeClaim = _ => if (!fired) {
        fired = true
        VersionedStore.vacuum(root, 0, stagedRetentionMs = 0L): Unit
      })
    assert(g === 1)
    assert(snapshot(root, 1) === Seq((1L, 10L, 0), (2L, 20L, 1)))
    assert(stagedDirs().isEmpty, "claim must consume the staged dir")
    // ADVICE r17: a claim that THROWS (non-monotonic fixture clock)
    // must reclaim its staged dir instead of leaking it until vacuum
    intercept[IllegalArgumentException] {
      VersionedStore.mergeGeneration(batch((3L, 30L, "c", 3.0)), 2, root,
        commitTs = 1L) // far below the driver-clock commit ts of gen 1
    }
    assert(stagedDirs().isEmpty,
      "a rejected commit timestamp must not leak the staged dir")
  }

  test("timestamp time travel fails loudly on a legacy no-commit-ts " +
      "manifest instead of resolving arbitrarily") {
    val root = freshRoot("legacy-ts")
    VersionedStore.mergeGeneration(batch((1L, 10L, "a", 1.0)), 0, root,
      commitTs = 1000L)
    // simulate a pre-round-17 manifest: no commit_ts field recorded
    val mPath = java.nio.file.Paths.get(
      s"$root/_manifest/gen-00000.json")
    val rewritten = java.nio.file.Files.readString(mPath)
      .replace("\"commit_ts\":1000", "\"commit_ts\":-1")
    assert(rewritten.contains("\"commit_ts\":-1"))
    java.nio.file.Files.writeString(mPath, rewritten): Unit
    // drop the local-fs checksum sidecar the out-of-band rewrite broke
    java.nio.file.Files.deleteIfExists(
      mPath.resolveSibling(".gen-00000.json.crc")): Unit
    intercept[IllegalArgumentException] {
      VersionedStore.readAsOfTimestamp(spark, root, 5000L)
    }
  }

  test("point lookup scans exactly ONE manifest-resolved bucket dir " +
      "with the key pushed down; misses return empty") {
    val root = freshRoot("lookup")
    // bucket 1 (user 1) written at gen 0; bucket 2 (users 2, 18) last
    // written at gen 1 (user 18 carried into it by the bucket merge)
    VersionedStore.mergeGeneration(
      batch((1L, 10L, "a", 1.0), (2L, 11L, "b", 2.0),
        (18L, 12L, "c", 3.0)), 0, root)
    VersionedStore.mergeGeneration(batch((2L, 20L, "d", 4.0)), 1, root)
    val df = VersionedStore.lookupKey(spark, root, 1, 18L)
    assert(df.select("user_id", "last_event_id", "gen").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
      === Seq((18L, 12L, 1)))
    // the serving contract: one root path (the single bucket dir), the
    // key predicate pushed into the parquet reader
    val scans = df.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans.map(_.relation.location.rootPaths.size).sum === 1,
      s"lookup must resolve to ONE bucket dir:\n${df.queryExecution}")
    assert(scans.exists(_.metadata.get("PushedFilters")
      .exists(_.contains("EqualTo(user_id"))),
      "key predicate must reach the parquet scan")
    // a key in a never-written bucket short-circuits to an empty frame
    // (999 % 16 = 7 — no such bucket dir); a missing key in a LIVE
    // bucket scans one dir and returns empty
    assert(VersionedStore.lookupKey(spark, root, 1, 999L).count() === 0L)
    assert(VersionedStore.lookupKey(spark, root, 1, 34L).count() === 0L)
  }

  private def scanRootPaths(df: DataFrame): Seq[String] =
    df.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.relation.location.rootPaths.map(_.toString)
    }.flatten

  test("zone map: readWhere scans ONLY the stat-surviving buckets, " +
      "results equal the unpruned filter, and stats survive " +
      "compaction/restore by reference") {
    import VersionedStore.StorePredicate._
    val root = freshRoot("zonemap")
    // three buckets with DISJOINT value ranges: bucket 1 (values 1-2),
    // bucket 2 (values 10-11), bucket 3 (value 100)
    VersionedStore.mergeGeneration(
      batch((1L, 10L, "a", 1.0), (17L, 11L, "a", 2.0),
        (2L, 12L, "b", 10.0), (18L, 13L, "b", 11.0),
        (3L, 14L, "c", 100.0)), 0, root)
    val m = VersionedStore.readManifest(root, 0)
    // the manifest recorded real ranges
    assert(m.stats(1L)("last_value") === ("1.0", "2.0"))
    assert(m.stats(2L)("user_id") === ("2", "18"))
    val pred = All(Seq(AtLeast("last_value", 5.0),
      AtMost("last_value", 50.0)))
    val df = VersionedStore.readWhere(spark, root, 0, pred)
    // ONLY bucket 2's dir is scanned — buckets 1 and 3 are pruned by
    // stats before any file opens
    val roots = scanRootPaths(df)
    assert(roots.size === 1 && roots.head.endsWith("bucket=2"),
      s"zone map must prune to bucket 2, scanned: $roots")
    assert(df.select("user_id").collect().map(_.getLong(0)).sorted.toSeq
      === Seq(2L, 18L))
    // pruned read == unpruned filter (the conservative contract)
    assert(df.collect().map(_.toString).sorted.toSeq ===
      VersionedStore.readAsOf(spark, root, 0).filter(pred.toColumn)
        .collect().map(_.toString).sorted.toSeq)
    // string + equality pruning: only bucket 3 holds event type 'c'
    val eq = EqTo("last_event_type", "c")
    assert(scanRootPaths(VersionedStore.readWhere(spark, root, 0, eq))
      .forall(_.endsWith("bucket=3")))
    // compaction carries the zone map by reference; restore re-pins it
    val cg = VersionedStore.compact(spark, root)
    val cm = VersionedStore.readManifest(root, cg)
    assert(cm.stats === m.stats)
    val rg = VersionedStore.restore(root, 0)
    assert(VersionedStore.readManifest(root, rg).stats === m.stats)
    // disjunction: bucket survives when ANY disjunct could match
    val or = AnyOf(Seq(AtMost("last_value", 2.0),
      AtLeast("last_value", 99.0)))
    assert(scanRootPaths(VersionedStore.readWhere(spark, root, 0, or))
      .map(p => p.substring(p.lastIndexOf('/') + 1)).sorted
      === Seq("bucket=1", "bucket=3"))
  }

  test("zone map is conservative: stripped stats scan everything with " +
      "identical results; a pre-evolution bucket survives a predicate " +
      "on the column it never saw") {
    import VersionedStore.StorePredicate._
    val root = freshRoot("zonemap-cons")
    VersionedStore.mergeGeneration(
      batch((1L, 10L, "a", 1.0), (2L, 11L, "b", 10.0)), 0, root)
    // gen 1 ADDS `tag` and touches only bucket 2 — bucket 1's stats
    // never mention the column
    VersionedStore.mergeGeneration(
      batch((2L, 20L, "c", 10.0)).withColumn("tag", lit("x")), 1, root)
    // the OR keeps Catalyst from folding the pre-evolution branch away
    // (tag EqTo alone it can prove false there from the null literal),
    // so the scan count isolates the ZONE MAP's decision: bucket 1 has
    // NO tag stats -> conservative survive; its last_value range (1.0)
    // fails the other disjunct -> only the missing-stats column keeps
    // it alive. An aggressive mayMatch would read one dir, not two.
    val predTag = AnyOf(Seq(EqTo("tag", "x"), AtMost("last_value", 0.0)))
    val df = VersionedStore.readWhere(spark, root, 1, predTag)
    assert(scanRootPaths(df).size === 2,
      "a stats-less column must not prune the bucket")
    assert(df.select("user_id").collect().map(_.getLong(0)).toSeq
      === Seq(2L))
    // a LEGACY manifest (no stats field at all) scans every bucket and
    // returns the same rows
    val mPath = java.nio.file.Paths.get(s"$root/_manifest/gen-00001.json")
    val node = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(java.nio.file.Files.readString(mPath))
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    node.remove("stats")
    java.nio.file.Files.writeString(mPath, node.toString): Unit
    // drop the local-fs checksum sidecar the out-of-band rewrite broke
    java.nio.file.Files.deleteIfExists(
      mPath.resolveSibling(".gen-00001.json.crc")): Unit
    val predVal = AtLeast("last_value", 5.0)
    val stripped = VersionedStore.readWhere(spark, root, 1, predVal)
    assert(scanRootPaths(stripped).size === 2,
      "a pre-stats manifest must scan every bucket")
    assert(stripped.select("user_id").collect().map(_.getLong(0)).sorted
      .toSeq === Seq(2L))
  }

  test("zone map: timestamp predicates prune by the micros-normalized " +
      "range (AtLeast/AtMost/EqTo accept Timestamp and Instant)") {
    import VersionedStore.StorePredicate._
    val root = freshRoot("zonemap-ts")
    // batch() derives last_ts from event_id seconds: bucket 1 spans
    // [100s, 200s], bucket 2 spans [5000s, 6000s]
    VersionedStore.mergeGeneration(
      batch((1L, 100L, "a", 1.0), (17L, 200L, "b", 2.0),
        (2L, 5000L, "c", 3.0), (18L, 6000L, "d", 4.0)), 0, root)
    val m = VersionedStore.readManifest(root, 0)
    assert(m.stats(1L)("last_ts") === ("100000000", "200000000"))
    def ts(sec: Long) = java.sql.Timestamp.from(
      java.time.Instant.ofEpochSecond(sec))
    val late = AtLeast("last_ts", ts(1000L))
    val dfLate = VersionedStore.readWhere(spark, root, 0, late)
    assert(scanRootPaths(dfLate).forall(_.endsWith("bucket=2")))
    assert(dfLate.select("user_id").collect().map(_.getLong(0)).sorted
      .toSeq === Seq(2L, 18L))
    // Instant form normalizes identically; EqTo prunes to the one
    // bucket whose range contains the instant
    val eq = EqTo("last_ts", ts(200L))
    val dfEq = VersionedStore.readWhere(spark, root, 0, eq)
    assert(scanRootPaths(dfEq).forall(_.endsWith("bucket=1")))
    assert(dfEq.select("user_id").collect().map(_.getLong(0)).toSeq
      === Seq(17L))
    val none = AtMost("last_ts",
      java.time.Instant.ofEpochSecond(50L))
    assert(VersionedStore.readWhere(spark, root, 0, none).count() === 0L)
  }

  test("zone map: an over-limit string bound records no entry (bounded " +
      "manifests), and the bucket stays conservatively scannable") {
    import VersionedStore.StorePredicate._
    val root = freshRoot("zonemap-bound")
    val longTail = "z" * (VersionedStore.StatStringMaxBytes + 10)
    VersionedStore.mergeGeneration(
      batch((1L, 10L, longTail, 1.0), (17L, 11L, "aaa", 2.0),
        (2L, 12L, "bbb", 3.0)), 0, root)
    val m = VersionedStore.readManifest(root, 0)
    // bucket 1's event-type MAX is the megastring class -> no entry at
    // all; its other columns still carry stats; bucket 2 unaffected
    assert(!m.stats(1L).contains("last_event_type"))
    assert(m.stats(1L).contains("user_id"))
    assert(m.stats(2L)("last_event_type") === ("bbb", "bbb"))
    // the stats-less column is conservatively scanned and still matches
    val df = VersionedStore.readWhere(spark, root, 0,
      EqTo("last_event_type", longTail))
    assert(df.select("user_id").collect().map(_.getLong(0)).toSeq
      === Seq(1L))
  }

  test("zone map null counts: IS NULL prunes zero-null buckets, " +
      "IS NOT NULL and comparisons prune all-null buckets, and a " +
      "counts-less legacy manifest scans conservatively") {
    import VersionedStore.StorePredicate._
    val root = freshRoot("zonemap-null")
    // tag layout: bucket 1 (users 1, 17) ALL null; bucket 2 (users 2,
    // 18) half null; bucket 3 (user 3) never null
    def tagged(rows: org.apache.spark.sql.DataFrame, tag: Option[String]) =
      rows.withColumn("tag", tag.map(lit(_)).getOrElse(lit(null: String)))
    VersionedStore.mergeGeneration(
      tagged(batch((1L, 10L, "a", 1.0), (17L, 11L, "b", 2.0),
          (18L, 13L, "d", 4.0)), None)
        .unionByName(tagged(batch((2L, 12L, "c", 3.0)), Some("x")))
        .unionByName(tagged(batch((3L, 14L, "e", 5.0)), Some("y"))),
      0, root)
    val m = VersionedStore.readManifest(root, 0)
    // the manifest recorded real counts (round-tripped through JSON)
    assert(m.counts(1L) === VersionedStore.BucketCounts(2,
      Map("user_id" -> 0L, "last_ts" -> 0L, "last_event_id" -> 0L,
        "last_event_type" -> 0L, "last_value" -> 0L,
        "n_versions" -> 0L, "tag" -> 2L)))
    assert(m.counts(2L).rows === 2 && m.counts(2L).nulls("tag") === 1)
    assert(m.counts(3L).nulls("tag") === 0)
    def rootsOf(p: VersionedStore.StorePredicate): Seq[String] =
      scanRootPaths(VersionedStore.readWhere(spark, root, 0, p))
        .map(s => s.substring(s.lastIndexOf('/') + 1)).sorted
    def sqlRoots(sql: String): Seq[String] =
      dsv2ScanPaths(VersionedStore.readWhereSql(spark, root, 0, sql))
        .map(s => s.substring(s.lastIndexOf('/') + 1)).sorted
    // IS NULL prunes the zero-null bucket 3
    assert(rootsOf(IsNull("tag")) === Seq("bucket=1", "bucket=2"))
    assert(VersionedStore.readWhere(spark, root, 0, IsNull("tag"))
      .select("user_id").collect().map(_.getLong(0)).sorted.toSeq
      === Seq(1L, 17L, 18L))
    // IS NOT NULL prunes the all-null bucket 1
    assert(rootsOf(IsNotNull("tag")) === Seq("bucket=2", "bucket=3"))
    // a comparison prunes the all-null bucket too: pre-round-19 the
    // range-less column scanned it conservatively; nulls == rows now
    // proves no row can match (bucket 3 is pruned by its [y, y] range)
    assert(rootsOf(EqTo("tag", "x")) === Seq("bucket=2"))
    assert(VersionedStore.readWhere(spark, root, 0, EqTo("tag", "x"))
      .select("user_id").collect().map(_.getLong(0)).toSeq === Seq(2L))
    // the SQL skeleton prunes identically
    assert(sqlRoots("tag IS NULL") === Seq("bucket=1", "bucket=2"))
    assert(sqlRoots("tag IS NOT NULL") === Seq("bucket=2", "bucket=3"))
    assert(sqlRoots("tag = 'x'") === Seq("bucket=2"))
    // pruned read == unpruned filter (the conservative contract)
    assert(VersionedStore.readWhere(spark, root, 0, IsNotNull("tag"))
      .collect().map(_.toString).sorted.toSeq ===
      VersionedStore.readAsOf(spark, root, 0)
        .filter(col("tag").isNotNull)
        .collect().map(_.toString).sorted.toSeq)
    // a LEGACY manifest (no counts field) scans everything, same rows
    val mPath = java.nio.file.Paths.get(s"$root/_manifest/gen-00000.json")
    val node = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(java.nio.file.Files.readString(mPath))
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    node.remove("counts")
    java.nio.file.Files.writeString(mPath, node.toString): Unit
    java.nio.file.Files.deleteIfExists(
      mPath.resolveSibling(".gen-00000.json.crc")): Unit
    assert(rootsOf(IsNull("tag")).size === 3,
      "a counts-less manifest must scan every bucket")
    assert(VersionedStore.readWhere(spark, root, 0, IsNull("tag"))
      .select("user_id").collect().map(_.getLong(0)).sorted.toSeq
      === Seq(1L, 17L, 18L))
  }

  test("deleteWhere: matched buckets rewritten without the rows, " +
      "untouched buckets carried by reference byte-for-byte, emptied " +
      "buckets leave the manifest, history keeps the rows") {
    import VersionedStore.StorePredicate._
    val root = freshRoot("del")
    // bucket 1: users 1 (click) + 17 (view) -> rewritten, keeps 17
    // bucket 2: user 2 (view)              -> untouched by reference
    // bucket 3: user 3 (click)             -> emptied, dropped
    VersionedStore.mergeGeneration(
      batch((1L, 10L, "click", 1.0), (17L, 11L, "view", 2.0),
        (2L, 12L, "view", 3.0), (3L, 13L, "click", 4.0)), 0, root)
    val m0 = VersionedStore.readManifest(root, 0)
    val untouchedBefore = fileDigest(
      new java.io.File(VersionedStore.bucketPath(root, m0, 0, 2L)))
    val g = VersionedStore.deleteWhere(spark, root,
      EqTo("last_event_type", "click"))
    assert(g === 1)
    val m = VersionedStore.readManifest(root, g)
    assert(m.kind === "delete")
    // bucket map: 1 rewritten at g, 2 carried at 0, 3 GONE
    assert(m.buckets === Map(1L -> 1, 2L -> 0))
    assert(fileDigest(new java.io.File(
      VersionedStore.bucketPath(root, m, 0, 2L))) === untouchedBefore)
    assert(snapshot(root, g) === Seq((2L, 12L, 0), (17L, 11L, 1)))
    // fresh zone map for the rewritten bucket: the click winner's
    // user_id (1) no longer bounds the range
    assert(m.stats(1L)("user_id") === ("17", "17"))
    // retention-then-erasure: the pre-delete snapshot still reads all 4
    assert(snapshot(root, 0).map(_._1) === Seq(1L, 2L, 3L, 17L))
    // no matching rows anywhere -> NO new generation
    assert(VersionedStore.deleteWhere(spark, root,
      EqTo("last_event_type", "click")) === g)
    assert(VersionedStore.latestGen(root) === Some(g))
    // NULL rows never match a predicate delete (SQL three-valued NOT)
    val root2 = freshRoot("del-null")
    VersionedStore.mergeGeneration(
      batch((1L, 10L, "x", 1.0)).withColumn("tag", lit("kill"))
        .unionByName(batch((17L, 11L, "y", 2.0))
          .withColumn("tag", lit(null: String))), 0, root2)
    val g2 = VersionedStore.deleteWhere(spark, root2, EqTo("tag", "kill"))
    assert(snapshot(root2, g2).map(_._1) === Seq(17L))
  }

  test("updateWhere: assignments hit matching rows only and see the OLD " +
      "row, untouched buckets carry by reference, type changes and " +
      "unknown columns fail, no matches commit nothing") {
    import VersionedStore.StorePredicate._
    val root = freshRoot("upd")
    // bucket 1: users 1 (click) + 17 (view) -> rewritten, 17 untouched
    // bucket 2: user 2 (view)               -> carried by reference
    VersionedStore.mergeGeneration(
      batch((1L, 10L, "click", 1.5), (17L, 11L, "view", 2.0),
        (2L, 12L, "view", 3.0)), 0, root)
    val m0 = VersionedStore.readManifest(root, 0)
    val untouchedBefore = fileDigest(
      new java.io.File(VersionedStore.bucketPath(root, m0, 0, 2L)))
    val g = VersionedStore.updateWhere(spark, root,
      EqTo("last_event_type", "click"),
      Seq("last_value" -> lit(0.0),
        "last_event_type" -> lit("redacted")))
    assert(g === 1)
    val m = VersionedStore.readManifest(root, g)
    assert(m.kind === "update")
    assert(m.buckets === Map(1L -> 1, 2L -> 0))
    assert(fileDigest(new java.io.File(
      VersionedStore.bucketPath(root, m, 0, 2L))) === untouchedBefore)
    val rows = VersionedStore.readAsOf(spark, root, g)
      .select("user_id", "last_event_type", "last_value", "gen")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2),
        r.getInt(3))).toSeq.sortBy(_._1)
    // user 1 redacted at gen 1; user 17 rewritten WITH ORIGINAL VALUES
    // into gen 1 (same bucket); user 2 untouched at gen 0
    assert(rows === Seq((1L, "redacted", 0.0, 1),
      (2L, "view", 3.0, 0), (17L, "view", 2.0, 1)))
    // fresh zone map: the rewritten bucket's type range covers the NEW
    // value, so EqTo('click') now prunes everything (no new generation)
    assert(VersionedStore.readWhere(spark, root, g,
      EqTo("last_event_type", "click")).count() === 0L)
    assert(VersionedStore.updateWhere(spark, root,
      EqTo("last_event_type", "click"),
      Seq("last_value" -> lit(9.9))) === g)
    // history keeps the pre-update rows (retention-then-fix-up)
    assert(VersionedStore.readAsOf(spark, root, 0)
      .filter(col("last_event_type") === "click").count() === 1L)
    // every RHS evaluates against the OLD row: swap two columns
    val root2 = freshRoot("upd-swap")
    VersionedStore.mergeGeneration(
      batch((1L, 10L, "swapme", 5.0)).withColumn("v2", lit(7.0)), 0, root2)
    VersionedStore.updateWhere(spark, root2,
      EqTo("last_event_type", "swapme"),
      Seq("last_value" -> col("v2"), "v2" -> col("last_value"))): Unit
    val swapped = VersionedStore.readAsOf(spark, root2, 1)
      .select("last_value", "v2").collect()(0)
    assert((swapped.getDouble(0), swapped.getDouble(1)) === ((7.0, 5.0)))
    // guards: type change, unknown column, duplicate assignment
    intercept[IllegalArgumentException] {
      VersionedStore.updateWhere(spark, root2, EqTo("user_id", 1L),
        Seq("last_value" -> lit("not a double")))
    }
    intercept[IllegalArgumentException] {
      VersionedStore.updateWhere(spark, root2, EqTo("user_id", 1L),
        Seq("no_such" -> lit(1.0)))
    }
    intercept[IllegalArgumentException] {
      VersionedStore.updateWhere(spark, root2, EqTo("user_id", 1L),
        Seq("v2" -> lit(1.0), "v2" -> lit(2.0)))
    }
    // NULL predicate rows keep their values (three-valued WHERE)
    val root3 = freshRoot("upd-null")
    VersionedStore.mergeGeneration(
      batch((1L, 10L, "x", 1.0)).withColumn("tag", lit("hit"))
        .unionByName(batch((17L, 11L, "y", 2.0))
          .withColumn("tag", lit(null: String))), 0, root3)
    VersionedStore.updateWhere(spark, root3, EqTo("tag", "hit"),
      Seq("last_value" -> lit(0.0))): Unit
    val vals = VersionedStore.readAsOf(spark, root3, 1)
      .select("user_id", "last_value").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq.sortBy(_._1)
    assert(vals === Seq((1L, 0.0), (17L, 2.0)))
  }

  test("clustering persists through rewrites: deleteWhere, updateWhere " +
      "and ingest merges re-sort rewritten buckets by the recorded " +
      "keys; a plain compact resets the record honestly") {
    import VersionedStore.StorePredicate._
    val root = freshRoot("cluster-keep")
    VersionedStore.mergeGeneration(
      batch((33L, 10L, "a", 1.0), (1L, 11L, "kill", 2.0),
        (17L, 12L, "c", 3.0), (49L, 13L, "d", 4.0),
        (2L, 14L, "e", 5.0)), 0, root)
    val cg = VersionedStore.compact(spark, root,
      clusterBy = Seq("user_id"))
    assert(VersionedStore.readManifest(root, cg).clusteredBy
      === Seq("user_id"))
    def bucketOrder(g: Int, b: Long): Seq[Long] = {
      val m = VersionedStore.readManifest(root, g)
      val dir = new java.io.File(VersionedStore.bucketPath(root, m,
        m.buckets(b), b))
      val files = dir.listFiles().filter(_.getName.endsWith(".parquet"))
      assert(files.length === 1, s"bucket $b must be one clustered file")
      spark.read.parquet(files.head.getPath)
        .select("user_id").collect().map(_.getLong(0)).toSeq
    }
    // a DELETE rewrite of bucket 1 keeps the survivors key-sorted in
    // one file, and the manifest still records the clustering
    val dg = VersionedStore.deleteWhere(spark, root,
      EqTo("last_event_type", "kill"))
    assert(VersionedStore.readManifest(root, dg).clusteredBy
      === Seq("user_id"))
    assert(bucketOrder(dg, 1L) === Seq(17L, 33L, 49L))
    // an UPDATE rewrite stays sorted too
    val ug = VersionedStore.updateWhere(spark, root,
      EqTo("last_event_type", "c"), Seq("last_value" -> lit(0.0)))
    assert(VersionedStore.readManifest(root, ug).clusteredBy
      === Seq("user_id"))
    assert(bucketOrder(ug, 1L) === Seq(17L, 33L, 49L))
    // an INGEST merge into the clustered bucket re-sorts it: user 1
    // (re-inserted after its deletion) routes to bucket 1 and must land
    // FIRST in the rewritten file, not wherever the merge emitted it
    VersionedStore.commitBatch(batch((1L, 20L, "f", 6.0)), root): Unit
    val ig = VersionedStore.latestGen(root).get
    assert(VersionedStore.readManifest(root, ig).clusteredBy
      === Seq("user_id"))
    assert(bucketOrder(ig, 1L) === Seq(1L, 17L, 33L, 49L))
    // a plain compact produces an unsorted rewrite and records Nil
    val pg = VersionedStore.compact(spark, root)
    assert(VersionedStore.readManifest(root, pg).clusteredBy === Nil)
  }

  private def dsv2ScanPaths(df: DataFrame): Seq[String] =
    df.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        b.scan match {
          case fs: org.apache.spark.sql.execution.datasources.v2.FileScan =>
            fs.fileIndex.rootPaths.map(_.toString)
          case _ => Nil
        }
    }.flatten

  test("DSv2 graftstore: the planner pushes filters into the scan " +
      "builder, the zone map prunes buckets, results equal readWhere, " +
      "SQL over a view prunes identically, and options pin snapshots") {
    import VersionedStore.StorePredicate._
    val root = freshRoot("dsv2")
    VersionedStore.mergeGeneration(
      batch((1L, 10L, "a", 1.0), (17L, 11L, "a", 2.0),
        (2L, 12L, "b", 10.0), (18L, 13L, "b", 11.0),
        (3L, 14L, "c", 100.0)), 0, root, commitTs = 1000L)
    def load(opts: (String, String)*): DataFrame =
      opts.foldLeft(spark.read.format("graftstore")
          .option("path", root))((r, o) => r.option(o._1, o._2)).load()
    val v0 = load("versionAsOf" -> "0")
    // schema = the manifest snapshot schema, metadata columns included
    assert(v0.columns.toSeq ===
      VersionedStore.readAsOf(spark, root, 0).columns.toSeq)
    // the value band plans to a scan of ONLY bucket 2, band pushed
    val band = v0.filter(col("last_value") >= 5.0 &&
      col("last_value") <= 50.0)
    val bandPaths = dsv2ScanPaths(band)
    assert(bandPaths.size === 1 && bandPaths.head.endsWith("bucket=2"),
      s"DSv2 must prune to bucket 2, scanned: $bandPaths")
    val plan = band.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") &&
      plan.contains("GreaterThanOrEqual(last_value"), plan)
    // pruned-path PARITY with the helper read, rows and all
    val helper = VersionedStore.readWhere(spark, root, 0,
      All(Seq(AtLeast("last_value", 5.0), AtMost("last_value", 50.0))))
    assert(band.collect().map(_.toString).sorted.toSeq ===
      helper.collect().map(_.toString).sorted.toSeq)
    assert(scanRootPaths(helper).map(p =>
        p.substring(p.lastIndexOf('/') + 1)).sorted ===
      bandPaths.map(p => p.substring(p.lastIndexOf('/') + 1)).sorted)
    // plain SQL over a temp view gets the SAME planner-side pruning —
    // the readWhereSql skeleton walk is no longer the only SQL path
    load("versionAsOf" -> "0").createOrReplaceTempView("dsv2_spec_t")
    val viaSql = spark.sql(
      "SELECT user_id FROM dsv2_spec_t WHERE last_value BETWEEN 5 AND 50")
    assert(dsv2ScanPaths(viaSql).map(p =>
      p.substring(p.lastIndexOf('/') + 1)) === Seq("bucket=2"))
    assert(viaSql.collect().map(_.getLong(0)).sorted.toSeq === Seq(2L, 18L))
    // column pruning reaches the parquet reader
    val narrow = v0.filter(col("last_value") >= 5.0 &&
      col("last_value") <= 50.0).select("user_id")
    assert(narrow.queryExecution.executedPlan.toString
      .contains("ReadSchema: struct<user_id:bigint,last_value:double>") ||
      narrow.queryExecution.executedPlan.toString
        .contains("ReadSchema: struct<last_value:double,user_id:bigint>"),
      narrow.queryExecution.executedPlan.toString)
    // the virtual partition-column zone map: bucket = 3 prunes to one
    // dir; IS NULL on a never-null column prunes everything
    assert(dsv2ScanPaths(v0.filter(col("bucket") === 3L)).map(p =>
      p.substring(p.lastIndexOf('/') + 1)) === Seq("bucket=3"))
    assert(v0.filter(col("last_event_type").isNull).count() === 0L)
    assert(dsv2ScanPaths(v0.filter(col("user_id").isNull)).isEmpty)
    // versionAsOf PINS: a later commit is invisible to the pinned table
    VersionedStore.mergeGeneration(batch((2L, 20L, "d", 12.0)), 1, root,
      commitTs = 2000L)
    assert(v0.filter(col("user_id") === 2L)
      .select("last_event_id").collect()(0).getLong(0) === 12L)
    // gen = 1 (virtual range on the writer generation) scans only the
    // rewritten bucket at the new snapshot
    val v1 = load("versionAsOf" -> "1")
    assert(dsv2ScanPaths(v1.filter(col("gen") === 1)).map(p =>
      p.substring(p.lastIndexOf('/') + 1)) === Seq("bucket=2"))
    // timestampAsOf resolves by the at-or-before rule
    assert(load("timestampAsOf" -> "1500")
      .filter(col("user_id") === 2L)
      .select("last_event_id").collect()(0).getLong(0) === 12L)
    assert(load("timestampAsOf" -> "2000")
      .filter(col("user_id") === 2L)
      .select("last_event_id").collect()(0).getLong(0) === 20L)
    // default = latest
    assert(load().filter(col("user_id") === 2L)
      .select("last_event_id").collect()(0).getLong(0) === 20L)
    intercept[IllegalArgumentException] {
      load("versionAsOf" -> "0", "timestampAsOf" -> "1500").collect()
    }
  }

  test("DSv2 aggregates: COUNT/MIN/MAX with no filter are served from " +
      "the manifest alone (zero file reads); filters, distinct, or " +
      "missing stats fall back to the real scan with equal answers") {
    val root = freshRoot("dsv2-agg")
    VersionedStore.mergeGeneration(
      batch((1L, 10L, "a", 1.0), (17L, 11L, "b", 2.0),
        (2L, 12L, "c", 10.0), (3L, 14L, "d", 100.0))
        .withColumn("tag",
          when(col("user_id") === 2L, lit("x"))
            .otherwise(lit(null: String))), 0, root)
    val t = spark.read.format("graftstore").option("path", root)
      .option("versionAsOf", "0").load()
    // a manifest-served aggregate plans as a pure local row — no file
    // scan node of any kind survives in the physical plan
    def isMetadataServed(df: DataFrame): Boolean = {
      val plan = df.queryExecution.executedPlan.toString
      plan.contains("LocalTableScan") && !plan.contains("BatchScan") &&
        !plan.contains("Scan parquet")
    }
    // count(*) — one manifest row, no parquet scan in the plan
    val c = t.groupBy().count()
    assert(isMetadataServed(c), c.queryExecution.executedPlan.toString)
    assert(c.collect()(0).getLong(0) === 4L)
    // min/max/count(col) in one aggregate, nulls ignored like SQL
    val mm = t.agg(min("user_id"), max("last_value"), count("tag"),
      min("tag"), max("bucket"))
    assert(isMetadataServed(mm))
    val r = mm.collect()(0)
    assert((r.getLong(0), r.getDouble(1), r.getLong(2), r.getString(3),
      r.getLong(4)) === ((1L, 100.0, 1L, "x", 3L)))
    // a FILTERED count is not manifest-servable and must really scan
    val filtered = t.filter(col("last_value") >= 5.0).groupBy().count()
    assert(!isMetadataServed(filtered))
    assert(filtered.collect()(0).getLong(0) === 2L)
    // count(distinct) falls back too
    val dc = t.agg(countDistinct("last_event_type"))
    assert(!isMetadataServed(dc))
    assert(dc.collect()(0).getLong(0) === 4L)
    // a counts-less legacy manifest falls back with the same answer
    val mPath = java.nio.file.Paths.get(s"$root/_manifest/gen-00000.json")
    val node = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(java.nio.file.Files.readString(mPath))
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    node.remove("counts")
    java.nio.file.Files.writeString(mPath, node.toString): Unit
    java.nio.file.Files.deleteIfExists(
      mPath.resolveSibling(".gen-00000.json.crc")): Unit
    val legacy = spark.read.format("graftstore").option("path", root)
      .option("versionAsOf", "0").load().groupBy().count()
    assert(!isMetadataServed(legacy))
    assert(legacy.collect()(0).getLong(0) === 4L)
  }

  test("DSv2 catalog: CREATE TABLE USING graftstore gives a NAMED SQL " +
      "table with the same planner pruning and manifest-served counts") {
    val root = freshRoot("dsv2-cat")
    VersionedStore.mergeGeneration(
      batch((1L, 10L, "a", 1.0), (2L, 12L, "b", 10.0),
        (3L, 14L, "c", 100.0)), 0, root)
    spark.sql("DROP TABLE IF EXISTS graft_cat_spec")
    try {
      spark.sql(s"CREATE TABLE graft_cat_spec USING graftstore " +
        s"OPTIONS (path '$root', versionAsOf '0')")
      // planner-side zone-map pruning through the CATALOG name
      val banded = spark.sql(
        "SELECT user_id FROM graft_cat_spec WHERE last_value " +
          "BETWEEN 5 AND 50")
      assert(dsv2ScanPaths(banded).map(p =>
        p.substring(p.lastIndexOf('/') + 1)) === Seq("bucket=2"))
      assert(banded.collect().map(_.getLong(0)).toSeq === Seq(2L))
      // manifest-served count through plain SQL over the named table
      val c = spark.sql("SELECT count(*) FROM graft_cat_spec")
      val plan = c.queryExecution.executedPlan.toString
      assert(plan.contains("LocalTableScan") && !plan.contains("BatchScan"),
        plan)
      assert(c.collect()(0).getLong(0) === 3L)
    } finally spark.sql("DROP TABLE IF EXISTS graft_cat_spec"): Unit
  }

  test("DSv2 write: append through format(graftstore) commits an OCC " +
      "generation with recomputed routing; overwrite is not a " +
      "capability") {
    val root = freshRoot("dsv2-write")
    VersionedStore.mergeGeneration(
      batch((1L, 10L, "a", 1.0), (2L, 11L, "b", 2.0)), 0, root)
    // the appended frame is in SNAPSHOT shape (gen rides along and is
    // ignored; bucket is deliberately WRONG and must be re-derived)
    batch((2L, 20L, "c", 3.0), (3L, 21L, "d", 4.0))
      .withColumn("gen", lit(99))
      .withColumn("bucket", lit(15L))
      .write.format("graftstore").option("path", root)
      .mode("append").save()
    assert(VersionedStore.latestGen(root) === Some(1))
    assert(snapshot(root, 1) ===
      Seq((1L, 10L, 0), (2L, 20L, 1), (3L, 21L, 1)))
    // merged, not replaced: user 2's version count accumulated
    assert(VersionedStore.readAsOf(spark, root, 1)
      .filter(col("user_id") === 2L).select("n_versions")
      .collect()(0).getLong(0) === 2L)
    // overwrite is not declared — the planner rejects it
    intercept[Exception] {
      batch((9L, 30L, "e", 5.0)).withColumn("gen", lit(0))
        .write.format("graftstore").option("path", root)
        .mode("overwrite").save()
    }
    assert(VersionedStore.latestGen(root) === Some(1))
  }

  test("q_store_mv_persisted equals the direct snapshot state, and one " +
      "step's plan reads ONLY the persisted state + its window's feed") {
    val mvp = StreamingQueries.storeMvPersisted(spark, sf)
      .collect().map(_.toString).sorted.toSeq
    val root = scanRootPaths(StreamingQueries.timeTravel(spark, sf)).head
      .replaceFirst("/data/gen=.*$", "").replaceFirst("^file:", "")
    val direct = VersionedStore.readAsOf(spark, root,
        StreamingQueries.TimeTravelGens)
      .filter(col("last_event_type") =!= StreamingQueries.TombstoneType)
      .select("user_id", "bucket", "last_event_id", "n_versions")
      .collect().map(_.toString).sorted.toSeq
    assert(mvp === direct)
    // plan shape: a single step over a scratch state parquet must scan
    // exactly that parquet + the window's CHANGED buckets on both sides
    val stateDir = graft.engine.TempArtifacts.tempDir("graft-mv-specstate")
    val statePath = s"$stateDir/state"
    VersionedStore.readAsOf(spark, root, 0)
      .filter(col("last_event_type") =!= StreamingQueries.TombstoneType)
      .select("user_id", "bucket", "last_event_id", "n_versions")
      .write.mode("overwrite").parquet(statePath)
    val gTo = StreamingQueries.TimeTravelGens
    val step = StreamingQueries.mvPersistedStep(spark, root, statePath, gTo)
    val mf = VersionedStore.readManifest(root, gTo - 1)
    val mt = VersionedStore.readManifest(root, gTo)
    val changed = (mf.buckets.keySet ++ mt.buckets.keySet)
      .filter(b => mf.buckets.get(b) != mt.buckets.get(b))
    val expected = (Set(statePath) ++
      changed.flatMap(b =>
        mf.buckets.get(b).map(gw =>
          VersionedStore.bucketPath(root, mf, gw, b)).toSeq ++
        mt.buckets.get(b).map(gw =>
          VersionedStore.bucketPath(root, mt, gw, b)).toSeq))
      .map(p => p.stripPrefix("file:"))
    val scanned = scanRootPaths(step)
      .map(_.stripPrefix("file:")).toSet
    assert(scanned === expected,
      s"step plan must be O(1): state + changed buckets; got $scanned")
  }

  test("the driver's q_store_skipping scans exactly the stat-surviving " +
      "buckets of the shared store (the q_store_lookup precedent)") {
    val df = StreamingQueries.storeSkipping(spark, sf)
    val m = VersionedStore.readManifest(
      // resolve the memoized shared store root through a sibling read's
      // scan paths: every root path is <store>/data/gen=g/bucket=b
      scanRootPaths(StreamingQueries.timeTravel(spark, sf)).head
        .replaceFirst("/data/gen=.*$", "").replaceFirst("^file:", ""),
      StreamingQueries.TimeTravelReadGen)
    import VersionedStore.StorePredicate._
    val pred = All(Seq(AtLeast("user_id", StreamingQueries.SkipKeyLo),
      AtMost("user_id", StreamingQueries.SkipKeyHi)))
    val surviving = m.buckets.keySet.filter(b => {
      val lo = m.stats.get(b).flatMap(_.get("user_id")).map(_._1.toLong)
      val hi = m.stats.get(b).flatMap(_.get("user_id")).map(_._2.toLong)
      lo.forall(_ <= StreamingQueries.SkipKeyHi) &&
        hi.forall(_ >= StreamingQueries.SkipKeyLo)
    })
    val scanned = scanRootPaths(df)
      .map(p => p.substring(p.lastIndexOf('=') + 1).toLong).toSet
    assert(scanned === surviving,
      s"skipping must scan exactly the stat survivors: $scanned vs " +
        s"$surviving")
    // and the pruning is REAL on this fixture: most buckets are skipped
    assert(surviving.size < m.buckets.size / 2,
      s"the [${StreamingQueries.SkipKeyLo}, ${StreamingQueries.SkipKeyHi}]" +
        s" band should prune most of the ${m.buckets.size} buckets")
    // the predicate also reaches parquet for row-group skipping
    val pushed = df.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.metadata.getOrElse("PushedFilters", "")
    }.mkString
    assert(pushed.contains("GreaterThanOrEqual(user_id") &&
      pushed.contains("LessThanOrEqual(user_id"), pushed)
  }

  test("the driver's q_store_dsv2 scans exactly the buckets " +
      "q_store_skipping's helper read scans — planner-side pruning " +
      "parity on the shared store") {
    val viaDsv2 = StreamingQueries.storeDsv2(spark, sf)
    val viaHelper = StreamingQueries.storeSkipping(spark, sf)
    def buckets(paths: Seq[String]): Set[Long] =
      paths.map(p => p.substring(p.lastIndexOf('=') + 1).toLong).toSet
    assert(buckets(dsv2ScanPaths(viaDsv2))
      === buckets(scanRootPaths(viaHelper)))
    assert(viaDsv2.collect().map(_.toString).sorted.toSeq ===
      viaHelper.collect().map(_.toString).sorted.toSeq)
    // the band reaches the parquet reader through the DSv2 scan too
    val plan = viaDsv2.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") &&
      plan.contains("GreaterThanOrEqual(user_id"), plan)
  }

  test("the incrementally-maintained MV (q_store_mv) equals the final " +
      "snapshot's key state") {
    val mv = StreamingQueries.storeMv(spark, sf)
      .collect().map(_.toString).sorted.toSeq
    val root = scanRootPaths(StreamingQueries.timeTravel(spark, sf)).head
      .replaceFirst("/data/gen=.*$", "").replaceFirst("^file:", "")
    val direct = VersionedStore.readAsOf(spark, root,
        StreamingQueries.TimeTravelGens)
      .filter(col("last_event_type") =!= StreamingQueries.TombstoneType)
      .select("user_id", "bucket", "last_event_id", "n_versions")
      .collect().map(_.toString).sorted.toSeq
    assert(mv === direct)
  }

  test("clustered compaction: one file per bucket, rows sorted by the " +
      "cluster key, still a logical no-op") {
    val root = freshRoot("cluster")
    // two buckets, keys deliberately written in shuffled order
    VersionedStore.mergeGeneration(
      batch((33L, 10L, "a", 1.0), (1L, 11L, "b", 2.0),
        (17L, 12L, "c", 3.0), (2L, 13L, "d", 4.0),
        (18L, 14L, "e", 5.0)), 0, root)
    val before = VersionedStore.readAsOf(spark, root, 0)
      .drop("gen").collect().map(_.toString).sorted.toSeq
    val g = VersionedStore.compact(spark, root,
      clusterBy = Seq("user_id"))
    // logical no-op, zone map carried
    assert(VersionedStore.readAsOf(spark, root, g)
      .drop("gen").collect().map(_.toString).sorted.toSeq === before)
    assert(VersionedStore.readManifest(root, g).stats
      === VersionedStore.readManifest(root, 0).stats)
    // layout: each bucket dir holds ONE file whose row order is the
    // cluster key's — the row-group range-tightness the serving read's
    // pushed user_id predicate skips by
    Seq(1L, 2L).foreach { b =>
      val files = new java.io.File(VersionedStore.bucketPath(root,
        VersionedStore.readManifest(root, g), g, b)).listFiles()
        .filter(_.getName.endsWith(".parquet"))
      assert(files.length === 1,
        s"bucket $b must compact to one clustered file")
      val ids = spark.read.parquet(files.head.getPath)
        .select("user_id").collect().map(_.getLong(0)).toSeq
      assert(ids === ids.sorted,
        s"bucket $b rows must be sorted by the cluster key: $ids")
    }
    // unknown cluster column fails loudly before any rewrite
    intercept[IllegalArgumentException] {
      VersionedStore.compact(spark, root, clusterBy = Seq("no_such"))
    }
  }

  test("cross-PROCESS OCC: a second driver JVM commits mid-claim and " +
      "this driver's disjoint batch rebases over it; stale claim locks " +
      "are broken") {
    val root = freshRoot("xproc")
    VersionedStore.mergeGeneration(batch((1L, 10L, "a", 1.0)), 0, root)
    // a crash leftover: an ABANDONED claim lock for the next generation,
    // aged past the stale horizon — the claim must break it, not hang
    val staleLock = new java.io.File(s"$root/_manifest/claim-00001.lock")
    java.nio.file.Files.writeString(staleLock.toPath, "dead"): Unit
    assert(staleLock.setLastModified(System.currentTimeMillis() -
      VersionedStore.ClaimLockStaleMs - 60000L))
    // second DRIVER: a separate JVM sharing nothing but the store root;
    // launched from our beforeClaim hook (after our staged write, before
    // our claim) and awaited — user 35 routes to bucket 3, disjoint
    // from our bucket 2, so the storage-level race must end in a rebase
    var launched = false
    val out = new StringBuilder
    val g = VersionedStore.commitBatch(batch((2L, 20L, "b", 2.0)), root,
      beforeClaim = _ => if (!launched) {
        launched = true
        val cp = Seq("target/scala-2.13/test-classes",
          "target/scala-2.13/classes", "/opt/spark/jars/*")
          .mkString(java.io.File.pathSeparator)
        val addOpens = Seq("java.lang", "java.lang.invoke",
          "java.lang.reflect", "java.io", "java.net", "java.nio",
          "java.util", "java.util.concurrent",
          "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
          "sun.security.action", "sun.util.calendar")
          .flatMap(p => Seq("--add-opens", s"java.base/$p=ALL-UNNAMED"))
        val cmd = Seq(s"${System.getProperty("java.home")}/bin/java") ++
          addOpens ++ Seq("-Xmx2g", "-cp", cp, "graft.StoreContenderMain",
            root, "35", "21")
        val proc = new ProcessBuilder(cmd: _*)
          .redirectErrorStream(true).start()
        val sc = new java.util.Scanner(proc.getInputStream)
        while (sc.hasNextLine) out.append(sc.nextLine()).append('\n')
        assert(proc.waitFor() === 0,
          s"contender JVM failed:\n${out.toString.takeRight(2000)}")
      })
    // the contender took generation 1 (proving its claim went through
    // the shared lock + put-if-absent manifest, not our in-JVM lock);
    // our commit detected the lost race and rebased to generation 2
    assert(out.toString.contains("committed=1"), out.toString.takeRight(500))
    assert(g === 2)
    assert(snapshot(root, 2) ===
      Seq((1L, 10L, 0), (2L, 20L, 2), (35L, 21L, 1)))
    // both drivers' claim locks were released
    assert(!new java.io.File(s"$root/_manifest").listFiles()
      .exists(_.getName.endsWith(".lock")))
  }

  test("a mis-fired stale-break cannot corrupt: a paused claimant's " +
      "private dir is never touched, its resumed manifest create fails " +
      "loudly, and both drivers end consistent") {
    val root = freshRoot("stale-break")
    VersionedStore.mergeGeneration(batch((1L, 10L, "a", 1.0)), 0, root)
    // driver A: claimed generation 1 (lock held, data renamed to its
    // PRIVATE token dir) and then paused past ClaimLockStaleMs — plant
    // its aged lock file and its claim dir exactly as the crash/pause
    // leaves them
    val aDir = new java.io.File(s"$root/data/gen=1/w=aaaa1111/bucket=0")
    assert(aDir.mkdirs())
    java.nio.file.Files.writeString(
      new java.io.File(aDir, "a-data").toPath, "paused claimant"): Unit
    val aLock = new java.io.File(s"$root/_manifest/claim-00001.lock")
    java.nio.file.Files.writeString(aLock.toPath, "driver-a"): Unit
    assert(aLock.setLastModified(System.currentTimeMillis() -
      VersionedStore.ClaimLockStaleMs - 60000L))
    // driver B: breaks the stale lock and commits generation 1 — under
    // the sole-commit-point protocol it renames onto its OWN fresh
    // token, so nothing of A's is deleted or overwritten
    val g = VersionedStore.commitBatch(batch((2L, 20L, "b", 2.0)), root)
    assert(g === 1)
    assert(snapshot(root, 1) === Seq((1L, 10L, 0), (2L, 20L, 1)))
    val m1 = VersionedStore.readManifest(root, 1)
    assert(m1.writerDirs(1) !== "aaaa1111")
    assert(new java.io.File(aDir, "a-data").exists(),
      "B must not have deleted the paused claimant's private dir")
    // driver A resumes at its commit point: the put-if-absent manifest
    // create fails LOUDLY — detected lost race, no silent corruption
    intercept[java.io.IOException] {
      VersionedStore.writeManifest(root, VersionedStore.Manifest(
        1, Map(0L -> 1), commitTs = 99L,
        writerDirs = Map(1 -> "aaaa1111")))
    }
    // the committed state still reads B's data, and A's orphaned dir is
    // reader-invisible until the age-gated vacuum reclaims it
    assert(snapshot(root, 1) === Seq((1L, 10L, 0), (2L, 20L, 1)))
    VersionedStore.vacuum(root, 1, stagedRetentionMs = 0L)
    assert(!aDir.exists())
    assert(snapshot(root, 1) === Seq((1L, 10L, 0), (2L, 20L, 1)))
  }

  test("retention contract: a reader pinned to a snapshot vacuum drops " +
      "mid-read fails LOUDLY on its next action — never wrong or " +
      "partial rows") {
    val root = freshRoot("retention")
    VersionedStore.mergeGeneration(
      batch((1L, 10L, "a", 1.0), (2L, 11L, "b", 2.0)), 0, root)
    VersionedStore.mergeGeneration(
      batch((1L, 20L, "c", 3.0), (2L, 21L, "d", 4.0)), 1, root)
    // a long-running reader pins snapshot 0 and reads it once
    val reader = VersionedStore.readAsOf(spark, root, 0)
    assert(reader.count() === 2L)
    // maintenance vacuums past the reader's snapshot: manifest 0 and
    // both generation-0 bucket dirs (rewritten at 1) are reclaimed
    VersionedStore.vacuum(root, 1)
    // the reader's NEXT action fails loudly — a job error, not an
    // empty or partial result (collect is all-or-nothing; Spark keeps
    // ignoreMissingFiles=false in every session here)
    val e = intercept[Exception] { reader.collect() }
    def chain(t: Throwable): Seq[Throwable] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(10).toSeq
    assert(chain(e).exists(c =>
      c.isInstanceOf[java.io.FileNotFoundException] ||
        Option(c.getMessage).exists(m => m.contains("does not exist") ||
          m.contains("FILE_NOT_EXIST") || m.contains("PATH_NOT_FOUND"))),
      s"expected a missing-file failure, got: $e")
    // re-resolving the dropped snapshot fails at its manifest read
    intercept[IllegalArgumentException] {
      VersionedStore.readAsOf(spark, root, 0)
    }
    // a reader pinned AT the horizon is untouched — the production
    // contract: retention horizon > the longest query's lifetime
    assert(snapshot(root, 1) === Seq((1L, 20L, 1), (2L, 21L, 1)))
  }

  test("registerSnapshotView pins its snapshot against later commits") {
    val root = freshRoot("sqlview")
    VersionedStore.mergeGeneration(
      batch((1L, 10L, "a", 1.0), (2L, 11L, "b", 2.0)), 0, root)
    VersionedStore.registerSnapshotView(spark, root, "vspec_asof", 0)
    VersionedStore.mergeGeneration(batch((1L, 20L, "c", 3.0)), 1, root)
    // the view still reads snapshot 0 — registration resolved the
    // manifest, later commits are invisible
    assert(spark.sql(
      "SELECT max(last_event_id) FROM vspec_asof").collect()(0)
      .getLong(0) === 11L)
    VersionedStore.registerSnapshotViewAsOfTimestamp(spark, root,
      "vspec_asof_ts", System.currentTimeMillis() + 60000L)
    assert(spark.sql(
      "SELECT max(last_event_id) FROM vspec_asof_ts").collect()(0)
      .getLong(0) === 20L)
  }

  test("RTBF lifecycle: retention at gen g, erasure at gen g+1, tombstone " +
      "payload physically inert") {
    val root = freshRoot("rtbf")
    // users 10 and 20 are forgettable (ForgetMod = 10); 7 is retained
    VersionedStore.mergeGeneration(
      batch((10L, 1L, "a", 1.0), (20L, 2L, "b", 2.0), (7L, 3L, "c", 3.0)),
      0, root)
    val tomb = batch(
      (10L, -10L, StreamingQueries.TombstoneType, 0.0),
      (20L, -20L, StreamingQueries.TombstoneType, 0.0))
      .withColumn("last_ts",
        lit(java.sql.Timestamp.valueOf("2100-01-01 00:00:00")))
    VersionedStore.mergeGeneration(tomb, 1, root)
    def retained(g: Int): Set[Long] =
      VersionedStore.readAsOf(spark, root, g)
        .filter(col("last_event_type") =!= StreamingQueries.TombstoneType)
        .select("user_id").collect().map(_.getLong(0)).toSet
    // retention: the pre-deletion snapshot still contains both users
    assert(retained(0) === Set(7L, 10L, 20L))
    // erasure: the post-deletion snapshot excludes them
    assert(retained(1) === Set(7L))
    // the live generation's rows for forgotten users hold ONLY tombstone
    // constants — payload physically replaced, not merely filtered
    val raw = VersionedStore.readAsOf(spark, root, 1)
      .filter(col("user_id").isin(10L, 20L)).collect()
    assert(raw.length === 2)
    raw.foreach { r: Row =>
      assert(r.getAs[String]("last_event_type")
        === StreamingQueries.TombstoneType)
      assert(r.getAs[Double]("last_value") === 0.0)
      assert(r.getAs[Long]("last_event_id") < 0)
    }
  }
}
