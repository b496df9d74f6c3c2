package graft.streaming

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

import graft.engine.{SessionMemo, Tables, TempArtifacts}

/** Bench-fixture synthesis, NOT an engine path: everything that builds
  * a [[VersionedStore]] from the events table for the store and stream
  * queries. The reference notebook is a batch pipeline; this object
  * stands in for an already-batched production feed by cutting the
  * events table into deterministic ntile batches over (ts, event_id),
  * which the DuckDB oracles re-derive. The store itself never sorts.
  *
  * Read-only consumers share one memoized [[sharedStore]], built by
  * direct merges; mutation queries take a private [[forkStorePrefix]].
  * The streaming replay ([[replayToStore]]) runs only for the two
  * queries that time a streaming ingest, `q_stream_upsert` and
  * `q_stream_forget`; VersionedStoreSpec proves it commits the same
  * store as the direct build. [[StreamingQueries]]' constants are read
  * inside methods only, never to initialise a val here, so the two
  * objects have no init cycle.
  */
private[graft] object StoreFixture {
  private val runSeq = new AtomicLong(0)

  /** Above every event timestamp, so a tombstone always wins the
    * latest-per-key argmax ([[StreamingQueries.TombstoneType]]).
    */
  private val TombstoneTs =
    java.sql.Timestamp.valueOf("2100-01-01 00:00:00")

  /** The fixture commit clock: generation g commits at
    * [[StreamingQueries.StoreCommitBase]] + g × `StoreCommitStepMs`.
    */
  private[streaming] def commitTs(g: Int): Long =
    StreamingQueries.StoreCommitBase + g * StreamingQueries.StoreCommitStepMs

  /** The events table in spool shape — (event_id, ts, user_id,
    * event_type, value) plus `__batch` = ntile(`parts`) over the
    * (ts, event_id) total order, 0-based — cached and memoized per
    * (session, dir, parts) by [[SessionMemo.cached]]. Every ntile
    * batch of the fixture, spooled or merged directly, filters THIS
    * frame, so the global-order window sort runs once per split.
    */
  private def ntileFrame(spark: SparkSession, dir: String,
      parts: Int): DataFrame =
    SessionMemo.cached(spark, s"graft:ntile:$dir:$parts",
        StorageLevel.MEMORY_AND_DISK) {
      Tables.events(spark, dir)
        .select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("value"))
        .withColumn("__batch", (ntile(parts).over(
          Window.orderBy(col("ts"), col("event_id"))) - 1).cast("int"))
    }

  /** One right-to-be-forgotten tombstone per user_id divisible by
    * [[StreamingQueries.ForgetMod]], as the event rows of batch `b`.
    */
  private def tombstones(spark: SparkSession, dir: String,
      b: Int): DataFrame =
    Tables.events(spark, dir).select("user_id").distinct()
      .filter(pmod(col("user_id"), lit(StreamingQueries.ForgetMod)) === 0)
      .select((-col("user_id")).as("event_id"), lit(TombstoneTs).as("ts"),
        col("user_id"), lit(StreamingQueries.TombstoneType).as("event_type"),
        lit(0.0).as("value"), lit(b).as("__batch"))

  /** Event rows → the store's merge shape: payload renamed to `last_*`,
    * `n_versions` = 1, `bucket` routed by [[VersionedStore.bucketOf]].
    */
  private def storeRows(events: DataFrame): DataFrame =
    events.select(col("user_id"), col("ts").as("last_ts"),
      col("event_id").as("last_event_id"),
      col("event_type").as("last_event_type"),
      col("value").as("last_value"), lit(1L).as("n_versions"),
      VersionedStore.bucketOf(col("user_id")).as("bucket"))

  /** Batch `b` of the `parts`-way ntile split, in the merge shape. */
  private[streaming] def ntileBatch(spark: SparkSession, dir: String,
      parts: Int, b: Int): DataFrame =
    storeRows(ntileFrame(spark, dir, parts).filter(col("__batch") === b))

  /** Spool the events as one parquet file per ntile batch, plus a
    * trailing tombstone batch (`__batch` = nBatches) when
    * `withTombstones`. The on-disk contract [[driveVersionedStream]]
    * replays: flat `bNNN.parquet` files, each CARRYING its `__batch`
    * column so the merge loop verifies delivery order instead of
    * trusting it, STRICTLY INCREASING mtimes (the file source orders new
    * files by mtime), and exactly one file per batch id — an empty
    * batch gets an empty schema-correct file, because it must still
    * advance the generation chain. ONE partitionBy job writes every
    * batch; the routing column is a duplicate (`__bp`) so `__batch`
    * stays inside the files. Spool and stage dirs carry a per-call
    * nonce, so concurrent replays never delete each other's dirs.
    */
  private def writeSpool(spark: SparkSession, dir: String, nBatches: Int,
      withTombstones: Boolean): String = {
    val tag = runSeq.incrementAndGet()
    val spool = TempArtifacts.tempDir(s"graft-vstore-spool-$tag")
    val stage = TempArtifacts.tempDir(s"graft-vstore-stage-$tag")
    val events = ntileFrame(spark, dir, nBatches)
    val batched =
      if (withTombstones) events.unionByName(tombstones(spark, dir, nBatches))
      else events
    val total = nBatches + (if (withTombstones) 1 else 0)
    val baseMs = System.currentTimeMillis() - (total + 1) * 60000L
    def parquetIn(d: String): Seq[Path] =
      Option(new java.io.File(d).listFiles()).toSeq.flatten
        .filter(_.getName.endsWith(".parquet")).map(_.toPath)
    try {
      // one task, so one file per batch value; require()d, not assumed
      batched.withColumn("__bp", col("__batch"))
        .coalesce(1).write.mode("overwrite")
        .partitionBy("__bp").parquet(stage)
      lazy val empty = {
        batched.limit(0).coalesce(1).write.parquet(s"$stage/empty")
        parquetIn(s"$stage/empty").head
      }
      (0 until total).foreach { b =>
        val part = parquetIn(s"$stage/__bp=$b")
        require(part.length <= 1,
          s"spool stage wrote ${part.length} files for batch $b — one " +
            "spool file per batch is the replay contract")
        val dest = Paths.get(spool, f"b$b%03d.parquet")
        part.headOption match {
          case Some(p) => Files.move(p, dest)
          case None => Files.copy(empty, dest)
        }
        dest.toFile.setLastModified(baseMs + b * 60000L): Unit
      }
    } finally TempArtifacts.delete(stage)
    spool
  }

  /** The spool's read schema: the event columns plus `__batch`. */
  private val spoolSchema = StructType(
    EventStream.eventSchema.filterNot(_.name == "props") :+
      StructField("__batch", IntegerType))

  /** Replay a spool through foreachBatch into the copy-on-write store:
    * one file per trigger, one GENERATION per microbatch, committed
    * under the fixture clock. The generation id is `startGen + batchId`,
    * and each batch's carried `__batch` column must agree — a
    * coalesced, reordered, or replayed delivery fails loudly instead of
    * silently corrupting the manifest chain. `startGen` lets a NEW
    * stream continue a store an earlier stream built (VersionedStoreSpec
    * proves the continuation leaves committed generations
    * byte-identical).
    */
  private[graft] def driveVersionedStream(s2: SparkSession, spool: String,
      root: String, startGen: Int = 0): Unit = {
    val merge = (batch: DataFrame, batchId: Long) => {
      val gen = startGen + batchId.toInt
      // ONE aggregate job reads both the order-contract check and the
      // touched-bucket set
      val sets = batch.agg(
        collect_set(col("__batch")).as("carried"),
        collect_set(VersionedStore.bucketOf(col("user_id"))).as("touched"))
        .collect()(0)
      val carried = sets.getSeq[Int](0).sorted
      // an EMPTY batch carries no ids but still advances the chain
      require(carried.isEmpty || carried == Seq(gen - startGen),
        s"microbatch $batchId delivered batch ids $carried — the " +
          "one-file-per-trigger order contract is broken")
      VersionedStore.mergeGeneration(storeRows(batch), gen, root,
        commitTs = commitTs(gen), touchedHint = Some(sets.getSeq[Long](1)))
    }
    val q = s2.readStream.schema(spoolSchema)
      .option("maxFilesPerTrigger", 1).parquet(spool)
      .writeStream.foreachBatch(merge).start()
    q.processAllAvailable()
    q.stop(): Unit
  }

  /** Stream-replay the events table into the store at `root` as
    * [[StreamingQueries.TimeTravelGens]] generations, plus one trailing
    * tombstone generation when `withTombstones` ([[writeSpool]] →
    * [[driveVersionedStream]]), and return `root`. The streaming ingest
    * `q_stream_upsert` and `q_stream_forget` time; the consumed spool is
    * deleted.
    */
  private[graft] def replayToStore(spark: SparkSession, dir: String,
      root: String, withTombstones: Boolean): String = {
    val s2 = StreamingQueries.sizedStreamSession(spark, dir)
    val spool = writeSpool(spark, dir, StreamingQueries.TimeTravelGens,
      withTombstones)
    try driveVersionedStream(s2, spool, root)
    finally TempArtifacts.delete(spool)
    root
  }

  /** The read-only base store: generations 0..`gens`-1 of the
    * `parts`-way ntile split, plus the tombstone batch as generation
    * `gens` when `withTombstones`, committed by direct
    * [[VersionedStore.mergeGeneration]] calls under the fixture clock —
    * the same store [[replayToStore]] commits (spec-pinned), without the
    * spool and the stream. Memoized per (session, dir, parts, gens,
    * withTombstones): ingest runs once, many consumers read snapshots or
    * fork a prefix ([[forkStorePrefix]]); no consumer may mutate it. The
    * store dir is a [[SessionMemo.dir]], deleted on eviction (ScaleBench
    * evicts between scales, so each scale re-ingests cold, then reads
    * warm).
    */
  private[graft] def sharedStore(spark: SparkSession, dir: String,
      parts: Int, gens: Int, withTombstones: Boolean): String =
    SessionMemo.dir(spark, s"graft:vstore:$parts:$gens:$withTombstones:$dir",
        s"graft-vstore-base$parts-$gens-$withTombstones-") { root =>
      def merge(rows: DataFrame, g: Int): Unit =
        VersionedStore.mergeGeneration(rows, g, root, commitTs = commitTs(g))
      (0 until gens).foreach(g => merge(ntileBatch(spark, dir, parts, g), g))
      if (withTombstones) merge(storeRows(tombstones(spark, dir, gens)), gens)
    }

  /** Deep-copy the committed prefix (manifests 0..`upToGen` plus the
    * `data/gen=g` dirs they reference) of a store into a fresh private
    * root, so a MUTATION query (DELETE / UPDATE / RESTORE / OCC / schema
    * evolution / vacuum) mutates only its own fork of a
    * [[sharedStore]]. Copy-on-write guarantees the prefix is immutable
    * once committed, so the fork is read-indistinguishable from a
    * private ingest of the same batches.
    */
  private[graft] def forkStorePrefix(src: String, upToGen: Int,
      tag: String): String = {
    val dest = TempArtifacts.tempDir(tag)
    def copyTree(from: Path, to: Path): Unit = {
      Files.createDirectories(to.getParent)
      // the walk holds open directory handles until closed
      scala.util.Using.resource(Files.walk(from)) { paths =>
        paths.forEach { p =>
          val t = to.resolve(from.relativize(p).toString)
          if (Files.isDirectory(p)) Files.createDirectories(t): Unit
          else Files.copy(p, t): Unit
        }
      }
    }
    (0 to upToGen).foreach { g =>
      val m = Paths.get(src, "_manifest", f"gen-$g%05d.json")
      require(Files.isRegularFile(m),
        s"forkStorePrefix: $src has no committed generation $g")
      Files.createDirectories(Paths.get(dest, "_manifest"))
      Files.copy(m, Paths.get(dest, "_manifest", f"gen-$g%05d.json")): Unit
      val d = Paths.get(src, "data", s"gen=$g")
      if (Files.isDirectory(d))
        copyTree(d, Paths.get(dest, "data", s"gen=$g"))
    }
    dest
  }
}
