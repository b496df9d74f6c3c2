package graft.streaming

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Driver-visible streaming surface: the windowed-aggregation stream run
  * to completion over the finite fixture replay, with the SAME oracle as
  * its batch twin `q_event_window`.
  *
  * Complete output mode makes the result batch-deterministic: after
  * `processAllAvailable` the memory sink holds the final aggregation
  * state over every event regardless of how the file source split the
  * replay into microbatches (append-mode outputs would depend on
  * watermark advancement between batches — not a property to hash).
  * The query therefore proves the streaming pipeline end to end — file
  * source, event-time windows, state store, sink — against a DuckDB
  * oracle, not just rows>0.
  */
object StreamingQueries {
  type Q = (SparkSession, String) => DataFrame

  private val runSeq = new AtomicLong(0)

  /** Rows-per-state-partition target: the windowed aggregate's state is
    * (window, event_type)-keyed; size the stream's shuffle so state
    * partitions are meaningfully full instead of inheriting the batch
    * default (32 near-empty state-store commits per microbatch at fixture
    * scale; grows linearly with real input).
    *
    * r21 (guide §2.2 — fewer, larger partitions): 4096 → 16384. EVERY
    * state partition is a state-store instance whose commit is a delta
    * file write + fsync per microbatch (a stream-stream join runs FOUR
    * stores per partition), and the per-partition state at this target
    * (~16k rows × ~100 B ≈ 2 MB) is still memory-trivial next to an
    * executor's GBs — so the constant buys a ~4x cut in fsync/commit
    * count at every scale, not just the fixture's. Measured on the
    * fixture replay (100k events: 25 → 7 state partitions): the
    * stream-stream join 8.7 → 3.5 s, identical drained-sink rows. The
    * sizing stays input-adaptive (partitions grow linearly with rows,
    * capped at the session's shuffle.partitions — the cap binds first
    * on any real cluster).
    */
  private val StateRowsPerPartition = 16384L

  /** Isolated child session with the stream's shuffle-partition sizing
    * (one state partition per [[StateRowsPerPartition]] input rows,
    * capped at the batch default) — the conf must not leak into
    * concurrently running batch queries; the SparkContext is shared,
    * the SQLConf not.
    */
  private[streaming] def sizedStreamSession(spark: SparkSession,
      dir: String): SparkSession = {
    val s2 = spark.newSession()
    // Tables.events handles the fixture's TIMESTAMP(NANOS) layout; a bare
    // spark.read.parquet on it throws. The count is a pure function of
    // the fixture, memoized per (session, dir): every streaming query
    // sizes its state partitions from it, and without the memo each one
    // re-paid a full-scan count job just to read a constant.
    val inputRows = graft.engine.SessionMemo.getOrCompute(spark,
      s"graft:events-rows:$dir") {
      java.lang.Long.valueOf(graft.engine.Tables.events(spark, dir).count())
    }.longValue()
    val parts = math.max(1,
      math.ceil(inputRows.toDouble / StateRowsPerPartition).toInt)
      .min(spark.conf.get("spark.sql.shuffle.partitions").toInt)
    s2.conf.set("spark.sql.shuffle.partitions", parts.toString)
    s2
  }

  /** Run a streaming frame to completion into a uniquely named memory
    * sink (`graft_stream_<name>_<n>`: queries can run concurrently in
    * one session) under output `mode`, and return the drained table.
    */
  private def drain(stream: DataFrame, name: String,
      mode: String): DataFrame = {
    val table = s"graft_stream_${name}_${runSeq.incrementAndGet()}"
    val q = stream.writeStream.format("memory").queryName(table)
      .outputMode(mode).start()
    q.processAllAvailable()
    q.stop()
    stream.sparkSession.table(table)
  }

  def streamEventWindow(spark: SparkSession, dir: String): DataFrame = {
    val s2 = sizedStreamSession(spark, dir)
    drain(EventStream.windowedCounts(EventStream.readEvents(s2, dir)), "win",
      "complete")
      .select(col("window_start"), col("event_type"), col("n"),
        round(col("sum_value").cast("double"), 2).as("sum_value"),
        round(col("sum_value").cast("double") / col("n"), 6)
          .as("avg_value"))
  }

  /** Stateful sessionization stream (flatMapGroupsWithState) driven to
    * completion over the replay AND DRAINED: a far-future watermark
    * heartbeat ([[SessionState.runToMemory]]) times out every open
    * session, so the sink holds EVERY session — row-identical to the
    * batch sessionizer, which graduates this query from rows-only to
    * fully ORACLE-CHECKED (round 10; the oracle is the batch
    * `q_sessionize` CTE chain projected to this output's columns).
    * Which sessions a drain-less run emits depends on watermark
    * advancement across microbatches — an execution property; the drain
    * removes exactly that dependence.
    */
  def streamSessions(spark: SparkSession, dir: String): DataFrame = {
    val table = s"graft_stream_sess_${runSeq.incrementAndGet()}"
    val s2 = sizedStreamSession(spark, dir)
    val q = SessionState.runToMemoryIn(s2, spark, dir, table)
    q.stop()
    s2.table(table)
      .select(col("user_id"),
        timestamp_micros(col("start_us")).as("session_start"),
        timestamp_micros(col("end_us")).as("session_end"),
        col("n_events"))
  }

  /** Streaming exact dedup: `dropDuplicates` on the key columns over the
    * replay, append mode — each key's FIRST arrival is emitted once, so
    * after `processAllAvailable` the sink holds exactly the batch
    * DISTINCT set regardless of how the source split the microbatches.
    * That makes it fully oracle-checkable (unlike watermark-dependent
    * outputs).
    *
    * Scale shape: state is one entry per distinct key (keyed state store,
    * same shuffle key as the batch distinct's exchange). An unbounded
    * production stream bounds that state with
    * `dropDuplicatesWithinWatermark` — at the cost of the exact-once-ever
    * guarantee this query proves; the fixture replay is finite, so the
    * exact variant is the right contract here.
    */
  def streamDedup(spark: SparkSession, dir: String): DataFrame = {
    val s2 = sizedStreamSession(spark, dir)
    drain(EventStream.readEvents(s2, dir)
      .select(col("user_id"), col("event_type"))
      .dropDuplicates("user_id", "event_type"), "dedup", "append")
  }

  /** Stream-static broadcast enrichment — the enrich-on-ingest join a
    * production pipeline runs on every arriving event: the stream's
    * rows join a BROADCAST dimension (customer segment) map-side,
    * stateless, append mode — so the replayed output is EXACTLY the
    * batch left join (fully oracle-checkable) and each microbatch
    * pipelines through with no state store and no stream-side shuffle.
    * The static side stays dimension-sized (stream-static joins re-read
    * the dimension per microbatch — Spark's freshness contract); a
    * dimension too big to broadcast moves to a keyed state store or a
    * pre-bucketed join, not this plan.
    */
  def streamEnrich(spark: SparkSession, dir: String): DataFrame = {
    val s2 = sizedStreamSession(spark, dir)
    val dim = broadcast(
      graft.engine.Tables.loadIn(s2, spark, dir, "customer")
        .select(col("c_custkey").as("user_id"),
          col("c_mktsegment").as("segment")))
    drain(EventStream.readEvents(s2, dir)
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("value"))
      .join(dim, Seq("user_id"), "left")
      .select(col("event_id"), col("user_id"),
        coalesce(col("segment"), lit("UNKNOWN")).as("segment"),
        col("event_type"),
        round(col("value").cast("decimal(12,2)").cast("double"), 2)
          .as("value")), "enrich", "append")
  }

  /** Stream-stream interval join — click→purchase attribution ON the
    * stream: both inputs are unbounded watermarked streams, equi-keyed
    * on user and banded by event time (purchase within 30 min after the
    * click), append mode. This is the join shape whose BOTH sides grow
    * without bound: Spark co-partitions the two state stores on the
    * equi-key, and the watermark + band condition together bound how
    * long a click waits in state for a matching purchase — state is
    * delay × arrival-rate, not the stream so far. The fixture replay
    * completes before the 14-day delay evicts anything, so the drained
    * sink is EXACTLY the batch interval join (fully oracle-checkable);
    * a production deployment shrinks the delay to its real disorder
    * bound and the identical plan caps state accordingly.
    */
  def streamStreamJoin(spark: SparkSession, dir: String): DataFrame = {
    val s2 = sizedStreamSession(spark, dir)
    // r21: skip the trailing NO-DATA microbatch (watermark-advance
    // housekeeping). An INNER stream-stream join emits every match in
    // the batch that completes it; the no-data batch only evicts state
    // that the drain is about to discard anyway, yet it re-commits all
    // 4 state stores per partition — measured at HALF the query's cost
    // (batch 1: rows=0, addBatch 4.2–5.8 s ≈ batch 0). Drained-sink
    // rows verified identical (183 at sf0.1) with the batch either way.
    // Left ON for the session-window/timeout queries, whose final rows
    // only EMIT on watermark advancement.
    s2.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    val clicks = EventStream.readEvents(s2, dir)
      .filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", "14 days")
    val purchases = EventStream.readEvents(s2, dir)
      .filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"),
        col("user_id").as("p_user_id"), col("ts").as("purchase_ts"))
      .withWatermark("purchase_ts", "14 days")
    drain(clicks.join(purchases,
        col("user_id") === col("p_user_id") &&
          col("purchase_ts") >= col("click_ts") &&
          col("purchase_ts") <= col("click_ts") +
            expr("INTERVAL 30 MINUTES"))
      .select(col("click_id"), col("user_id"), col("click_ts"),
        col("purchase_id"), col("purchase_ts"),
        (unix_micros(col("purchase_ts")) - unix_micros(col("click_ts")))
          .as("gap_us")), "join", "append")
  }

  /** Streaming keyed upsert (`q_stream_upsert`) — the SINK half of a
    * production ingest: the events replay as [[TimeTravelGens]]
    * microbatches through `foreachBatch` into a [[VersionedStore]]
    * ([[StoreFixture.replayToStore]]), one copy-on-write generation per
    * batch. Each batch reads only its touched buckets, merges
    * latest-per-user under the total order (ts, event_id) while summing
    * version counts, stages the merged buckets in a fresh generation
    * dir and commits by manifest — the Delta/Hudi "MERGE with partition
    * pruning" shape with an atomic commit point, so a crash mid-batch
    * leaves the previous generation intact.
    *
    * Latest-per-key under a total order is associative and commutative,
    * so the drained store equals the batch argmax no matter how the
    * replay chunks into microbatches — which makes the sink fully
    * oracle-checkable, and `n_versions` additionally proves every event
    * was applied exactly once. Per-batch cost scales with batch size plus
    * the touched buckets — never with corpus size. Every call replays
    * into its own fresh store: the query times a full streaming ingest.
    */
  def streamUpsert(spark: SparkSession, dir: String): DataFrame =
    latestRows(spark, StoreFixture.replayToStore(spark, dir,
      graft.engine.TempArtifacts.tempDir("graft-upsert-store"),
      withTombstones = false))

  /** Every user_id divisible by this is served a right-to-be-forgotten
    * tombstone in [[streamForget]] — deterministic, so the oracle
    * derives the same deletion set from the events table.
    */
  val ForgetMod = 10L

  /** Tombstone marker. A tombstone's ts sits ABOVE every possible
    * event timestamp ([[StoreFixture]] synthesizes them), so it always
    * wins the latest-per-key argmax — deletion dominates no matter which
    * generation delivers it, which is exactly what makes the store
    * TOMBSTONE-ORDER-INVARIANT (proved in MultimodalStreamingSpec by
    * committing the tombstones before the events).
    */
  val TombstoneType = "__forget"

  /** Streaming right-to-be-forgotten (`q_stream_forget`, VERDICT r14
    * #6 — the streaming half of `q_index_forget`, connecting governance
    * to live ingest): deletion requests arrive ON THE STREAM as one
    * trailing tombstone batch and ride [[streamUpsert]]'s replay
    * unchanged — delete-on-match is expressed INSIDE the associative
    * latest-per-key argmax by giving tombstones the maximal timestamp,
    * so the tombstone generation rewrites each touched bucket with the
    * user's payload collapsed to the tombstone constants (older
    * generations keep it until [[VersionedStore.vacuum]] drops them —
    * the spec vacuums and proves the payload is physically gone). The
    * read-back drops tombstone winners, leaving exactly the retained
    * users' latest rows. Oracle = the batch latest-per-key over retained
    * keys. A deletion batch costs the same as any ingest batch — RTBF
    * without a second store discipline.
    */
  def streamForget(spark: SparkSession, dir: String): DataFrame =
    streamForgetInto(spark, dir,
      graft.engine.TempArtifacts.tempDir("graft-forget-store"))

  /** [[streamForget]] replayed into the store at `root`, which the spec
    * then inspects (vacuum + raw file read).
    */
  private[graft] def streamForgetInto(spark: SparkSession, dir: String,
      root: String): DataFrame =
    latestRows(spark,
      StoreFixture.replayToStore(spark, dir, root, withTombstones = true))
      .filter(col("last_event_type") =!= TombstoneType)

  /** The latest snapshot of a replayed store in the streaming sinks'
    * projection: [[snapCols]] without the `gen` metadata column.
    */
  private def latestRows(spark: SparkSession, root: String): DataFrame =
    VersionedStore.readAsOf(spark, root, VersionedStore.latestGen(root).get)
      .select(col("user_id") +: col("bucket") +: payloadCols: _*)

  // ---- versioned store: time travel + retention-then-erasure RTBF ----

  /** Generations the fixture store splits the events table into,
    * and the snapshot generation `q_time_travel` reads back. The split
    * is ntile over the (ts, event_id) total order — DETERMINISTIC and
    * DuckDB-expressible, so the oracle reconstructs exactly the events
    * any generation has absorbed. (The global-order window is fixture
    * SYNTHESIS — [[StoreFixture]]; the store itself never sorts
    * anything.)
    */
  val TimeTravelGens = 4
  val TimeTravelReadGen = 1

  /** Fixed fixture commit clock for the fixture stores
    * ([[StoreFixture.commitTs]]): generation g commits at
    * [[StoreCommitBase]] + g × [[StoreCommitStepMs]]
    * (2023-11-14T22:13:20Z + g minutes). Deterministic so
    * `q_time_travel_ts`'s AS-OF instant is a literal whose
    * ts→generation resolution the oracle can pin; production commits
    * use the driver clock (mergeGeneration's default).
    */
  val StoreCommitBase = 1700000000000L
  val StoreCommitStepMs = 60000L

  /** AS-OF generation the timestamp read must resolve to — interior (2)
    * and distinct from [[TimeTravelReadGen]] (1), so `q_time_travel_ts`
    * hashes a DIFFERENT snapshot than `q_time_travel` and a
    * resolution-rule bug cannot hide behind the other query's result.
    */
  val TimeTravelTsGen = 2

  /** The tombstone-bearing shared store every read-only store query
    * reads: [[TimeTravelGens]] ntile generations plus the tombstone
    * generation, built once per (session, fixture) by direct merges
    * ([[StoreFixture.sharedStore]]). No consumer mutates it; the
    * mutation queries fork a prefix.
    */
  private def forgetStore(spark: SparkSession, dir: String): String =
    StoreFixture.sharedStore(spark, dir, TimeTravelGens, TimeTravelGens,
      withTombstones = true)

  /** Time-travel read (`q_time_travel`, VERDICT r15 #5): read the
    * [[forgetStore]] AS OF generation [[TimeTravelReadGen]] — the
    * snapshot after generations 0..[[TimeTravelReadGen]] only, later
    * generations (including the tombstone batch) invisible. The
    * oracle recomputes the snapshot as the batch latest-per-key argmax
    * over exactly the events the read generation's prefix absorbed, and
    * the `gen` column (which generation last wrote each bucket — the
    * manifest's carry-forward map surfaced per row) hash-gates the
    * metadata layer itself, not just the data.
    */
  def timeTravel(spark: SparkSession, dir: String): DataFrame = {
    val root = forgetStore(spark, dir)
    VersionedStore.readAsOf(spark, root, TimeTravelReadGen)
      .select(snapCols: _*)
  }

  /** Snapshot-read projection shared by the versioned-store consumers:
    * key + the manifest metadata columns (`bucket`, `gen`) + payload.
    */
  private def snapCols: Seq[org.apache.spark.sql.Column] =
    Seq(col("user_id"), col("bucket"), col("gen")) ++ payloadCols

  /** The payload columns of a snapshot read, value rounded through the
    * exact-decimal discipline every money/value oracle in the repo uses.
    */
  private def payloadCols: Seq[org.apache.spark.sql.Column] = Seq(
    col("last_ts"), col("last_event_id"), col("last_event_type"),
    round(col("last_value").cast("decimal(12,2)").cast("double"), 2)
      .as("last_value"),
    col("n_versions"))

  /** Timestamp time travel (`q_time_travel_ts`, VERDICT r16 #4): read
    * the shared store AS OF a wall-clock instant landing exactly
    * mid-gap between the generation-[[TimeTravelTsGen]] and
    * generation-(ts+1) commits — Delta's at-or-before rule must resolve
    * it DOWN to generation [[TimeTravelTsGen]]. Same projection as
    * `q_time_travel`, but an INTERIOR generation distinct from its
    * read, so the hash gate proves the ts→generation resolution itself,
    * not just the snapshot read; the boundary case (an instant exactly
    * ON a commit) is spec-pinned in VersionedStoreSpec.
    */
  def timeTravelTs(spark: SparkSession, dir: String): DataFrame = {
    val root = forgetStore(spark, dir)
    VersionedStore.readAsOfTimestamp(spark, root,
      StoreFixture.commitTs(TimeTravelTsGen) + StoreCommitStepMs / 2)
      .select(snapCols: _*)
  }

  /** Store lifecycle (`q_store_vacuum`): the OPTIMIZE + VACUUM half of
    * the versioned store — fork the [[TimeTravelGens]] ingest
    * generations of the [[forgetStore]], COMPACT (rewrite every live
    * bucket into one new generation, a logical no-op), then VACUUM with
    * the compaction as horizon (drop all earlier manifests and every
    * data dir they alone referenced).
    * The result is the post-vacuum latest snapshot INCLUDING the `gen`
    * column: the oracle is the batch argmax over ALL events with
    * `gen` pinned to the compaction generation — hash equality proves
    * compaction preserved every row and every `n_versions` count AND
    * that every bucket now reads from the compact generation, i.e. the
    * file-level surgery changed nothing logical. The space/manifest
    * reclamation itself is spec-read (VersionedStoreSpec), not
    * hashable.
    */
  def storeVacuum(spark: SparkSession, dir: String): DataFrame = {
    val s2 = sizedStreamSession(spark, dir)
    // the pre-compaction store (generations 0..TimeTravelGens-1, no
    // tombstones) is the shared store's pre-tombstone prefix: vacuum
    // destroys only this private fork's history
    val root = StoreFixture.forkStorePrefix(forgetStore(spark, dir),
      TimeTravelGens - 1, "graft-vstore-vac")
    // OPTIMIZE ... ZORDER-shaped: cluster each bucket by the lookup key
    // during the rewrite, so post-compaction row groups are range-tight
    // on user_id (the serving read's pushed predicate) — hash-invisible
    // by definition, layout-pinned in VersionedStoreSpec
    val g = VersionedStore.compact(s2, root, clusterBy = Seq("user_id"))
    VersionedStore.vacuum(root, g)
    VersionedStore.readAsOf(spark, root, g).select(snapCols: _*)
  }

  /** Change-data-feed read (`q_change_feed`): the net row-level changes
    * between two committed generations of the [[VersionedStore]] — the
    * Delta-CDF capability that lets a downstream consumer (index
    * maintainer, feature store, replication target) process exactly
    * what changed instead of re-reading snapshots. Computed as a
    * full-outer key join of the two manifest-pruned snapshot reads:
    * `insert` (absent at from), `delete` (tombstone winner at to),
    * `update` (latest event moved OR the version count grew — an
    * out-of-order arrival can grow `n_versions` without moving the
    * argmax, and CDC must surface it). An insert-then-delete inside the
    * window nets to NO row. The store is the [[forgetStore]] (events
    * as [[TimeTravelGens]] ntile generations + one tombstone
    * generation), from = generation [[TimeTravelReadGen]], to = the
    * tombstone generation — so all three change types are exercised and
    * the oracle re-derives them from the deterministic ntile prefixes.
    * Scale shape (round 18): MANIFEST-PRUNED — only buckets whose
    * writer generation moved between the two manifests are scanned
    * into the ONE user-keyed exchange, so feed cost is
    * changed-partition-sized (copy-on-write proves untouched buckets
    * cannot contribute rows), never live-store- or
    * generation-count-sized.
    */
  def changeFeed(spark: SparkSession, dir: String): DataFrame = {
    val root = forgetStore(spark, dir)
    // manifest-pruned (round 18): only buckets whose writer generation
    // moved between the two manifests are read — identical feed rows
    // (copy-on-write: an untouched bucket cannot change), so the hash
    // gate is unchanged while the read cost drops to changed partitions
    VersionedStore.changesBetweenGens(spark, root, TimeTravelReadGen,
      TimeTravelGens, TombstoneType)
  }

  /** Interior change feed (`q_change_feed_pair`, VERDICT r16 #8): diff
    * two PRE-tombstone generations (0 → [[TimeTravelTsGen]]) of the
    * same shared store, so pure insert/update coverage stands on its
    * own instead of riding the trailing tombstone generation —
    * deletes are impossible in this window and the hash gate proves
    * none appear. `changesBetween` is already generation-agnostic; this
    * pins an arbitrary interior pair through the driver gate. Feed
    * COMPOSABILITY (changes(a→b) ∘ changes(b→c) = changes(a→c) net of
    * intermediate flips) is spec-pinned in VersionedStoreSpec.
    * Marginal cost: two manifest-pruned reads of the memoized store —
    * the α ≤ 0 steady-read class of its three siblings.
    */
  def changeFeedPair(spark: SparkSession, dir: String): DataFrame = {
    val root = forgetStore(spark, dir)
    VersionedStore.changesBetweenGens(spark, root, 0, TimeTravelTsGen,
      TombstoneType)
  }

  /** Point lookup through the versioned store (`q_store_lookup`): the
    * feature-store serving read — two deterministic keys (the corpus
    * min and max user_id) each resolved through the generation-
    * [[TimeTravelReadGen]] manifest to ONE bucket dir with the key
    * predicate pushed into parquet (spec-pinned to a single root path
    * per lookup). A historical-generation lookup, so this is also the
    * point-read form of time travel; a key the cut prefix never
    * absorbed simply returns no row, which the oracle mirrors. Rides
    * the shared memoized store — marginal cost is two single-bucket
    * scans plus one 1-row min/max aggregate.
    */
  def storeLookup(spark: SparkSession, dir: String): DataFrame = {
    val root = forgetStore(spark, dir)
    val mm = graft.engine.Tables.events(spark, dir)
      .agg(min("user_id"), max("user_id")).collect()(0)
    if (mm.isNullAt(0)) // empty fixture: no keys exist to look up
      VersionedStore.readAsOf(spark, root, TimeTravelReadGen)
        .limit(0).select(snapCols: _*)
    else
      Seq(mm.getLong(0), mm.getLong(1)).distinct
        .map(k => VersionedStore
          .lookupKey(spark, root, TimeTravelReadGen, k)
          .select(snapCols: _*))
        .reduce(_ unionByName _)
  }

  /** Optimistic-concurrency race (`q_concurrent_commit`, VERDICT r16
    * #1): the canonical two-job production collision — OPTIMIZE
    * (compaction) landing BETWEEN an ingest batch's merge and its
    * commit — driven DETERMINISTICALLY through `commitBatch`'s
    * beforeClaim hook (commit hooks, not sleeps). Events split into
    * three ntile batches; generations 0 and 1 commit serially; batch
    * 2's commit is interrupted at its first claim by a compaction that
    * takes generation 2, so the ingest loses the race, rebases
    * (manifest-only — a compaction is a logical no-op, so the staged
    * merge output is exactly what a serial re-merge would produce) and
    * commits as generation 3. The result is the final snapshot; the
    * oracle is the batch argmax over ALL events with each bucket's
    * `gen` pinned to 3 where batch 2 touched it and to the compaction's
    * 2 where it carried forward — hash equality proves the interleaved
    * schedule equals the serial one, manifest layer included.
    */
  def concurrentCommit(spark: SparkSession, dir: String): DataFrame = {
    // a private fork of the shared 3-way-split base's generations 0–1:
    // the raced commits land on the fork
    val root = StoreFixture.forkStorePrefix(StoreFixture.sharedStore(spark,
      dir, 3, 2, withTombstones = false), 1, "graft-vstore-occ")
    var raced = false
    val g = VersionedStore.commitBatch(
      StoreFixture.ntileBatch(spark, dir, 3, 2), root,
      commitTs = StoreFixture.commitTs(3),
      beforeClaim = _ =>
        if (!raced) {
          raced = true
          VersionedStore.compact(spark, root,
            commitTs = StoreFixture.commitTs(2)): Unit
        })
    require(g == 3,
      s"the raced ingest must rebase to generation 3, committed $g")
    VersionedStore.readAsOf(spark, root, g).select(snapCols: _*)
  }

  /** Rewind-and-replay (`q_store_restore`): RESTORE as the timeline
    * surgery a training pipeline needs when an ingest window turns out
    * poisoned — batches 0 and 1 commit; the store is RESTORED to the
    * post-batch-0 snapshot (a MANIFEST-ONLY commit re-referencing the
    * generation-0 dirs — zero data moved); batch 2 then continues the
    * chain forward. The live timeline is now "history with batch 1
    * erased": the oracle recomputes the argmax over exactly the
    * `bat <> 1` events, with each bucket's `gen` pinned to 3 where
    * batch 2 touched it and to the restored writer generation 0 where
    * it carried forward. Hash equality proves the re-referencing, the
    * post-restore merge reading the RESTORED (not latest-data) state,
    * and the erased window staying erased through the continuation.
    */
  def storeRestore(spark: SparkSession, dir: String): DataFrame = {
    // a private fork of the shared 3-way-split base's generations 0–1:
    // the timeline surgery below mutates only the fork
    val root = StoreFixture.forkStorePrefix(StoreFixture.sharedStore(spark,
      dir, 3, 2, withTombstones = false), 1, "graft-vstore-restore")
    val rg = VersionedStore.restore(root, 0,
      commitTs = StoreFixture.commitTs(2))
    require(rg == 2, s"restore must commit as generation 2, got $rg")
    VersionedStore.mergeGeneration(StoreFixture.ntileBatch(spark, dir, 3, 2),
      3, root, commitTs = StoreFixture.commitTs(3))
    VersionedStore.readAsOf(spark, root, 3).select(snapCols: _*)
  }

  /** Add-column schema evolution (`q_store_schema_evolution`, VERDICT
    * r16 #6): generation 0 ingests the first ntile half of events under
    * the base payload schema; generation 1 ingests the second half with
    * an ADDED `last_event_upper` column. The snapshot read resolves the
    * mixed writer schemas through the manifest's writer_cols metadata —
    * generation-0 carry-forward buckets and generation-0 argmax winners
    * inside touched buckets both read the added column back as NULL (no
    * schema inference, no fixed-schema misread). The oracle recomputes
    * per-row: winners from the first half carry NULL, winners from the
    * second carry upper(event_type) — hash equality proves the
    * null-padding landed on exactly the pre-evolution rows.
    */
  def storeSchemaEvolution(spark: SparkSession, dir: String): DataFrame = {
    // generation 0 is the shared base's generation 0 verbatim — fork
    // the 1-generation prefix, then evolve the schema privately
    val root = StoreFixture.forkStorePrefix(StoreFixture.sharedStore(spark,
      dir, 2, 2, withTombstones = false), 0, "graft-vstore-evo")
    VersionedStore.mergeGeneration(
      StoreFixture.ntileBatch(spark, dir, 2, 1)
        .withColumn("last_event_upper", upper(col("last_event_type"))),
      1, root, commitTs = StoreFixture.commitTs(1))
    VersionedStore.readAsOf(spark, root, 1)
      .select(snapCols :+ col("last_event_upper"): _*)
  }

  /** Zone-map key band `q_store_skipping` reads: [1, 5] is narrow
    * enough that most buckets' recorded `user_id` ranges exclude it
    * (bucket b holds keys ≡ b mod [[VersionedStore.Buckets]], so its
    * min is ≥ b or ≥ 16) — real pruning at every fixture scale — while
    * still matching rows at sf0.001's 15-user corpus.
    */
  val SkipKeyLo = 1L
  val SkipKeyHi = 5L

  /** Event class `q_store_delete` purges — a compliance-style
    * predicate DELETE over the store state.
    */
  val DeleteEventType = "click"

  /** What `q_store_update` rewrites matching rows TO — the redaction
    * fix-up shape of `UPDATE ... SET ... WHERE`.
    */
  val UpdateRedactedType = "redacted"
  val UpdateRedactedValue = 0.0

  /** Data skipping (`q_store_skipping`, VERDICT r17 #1): a general
    * predicate read through [[VersionedStore.readWhere]] — the manifest
    * zone map (per-bucket column min/max recorded at commit time)
    * prunes every bucket whose ranges exclude `user_id ∈ [SkipKeyLo,
    * SkipKeyHi]` BEFORE any file is opened, and the surviving buckets
    * scan with the band pushed into parquet. The oracle recounts the
    * band from the raw events table, so hash equality proves pruning
    * never dropped a qualifying row; the pruned-path shape itself
    * (root paths = exactly the stat-surviving buckets) is spec-pinned
    * like `q_store_lookup`'s. Rides the shared memoized store.
    */
  def storeSkipping(spark: SparkSession, dir: String): DataFrame = {
    val root = forgetStore(spark, dir)
    import VersionedStore.StorePredicate.{All, AtLeast, AtMost}
    VersionedStore.readWhere(spark, root, TimeTravelReadGen,
      All(Seq(AtLeast("user_id", SkipKeyLo), AtMost("user_id", SkipKeyHi))))
      .select(snapCols: _*)
  }

  /** DataSource V2 front door (`q_store_dsv2`, VERDICT r18 #1): the
    * same key band as `q_store_skipping`, but read through
    * `spark.read.format("graftstore")` — the band predicate is pushed
    * by CATALYST's V2 pushdown rule into [[graft.sources
    * .GraftStoreScanBuilder]], the manifest zone map prunes buckets
    * inside the planner, and the executed scan is Spark's vectorized
    * parquet batch scan over exactly the surviving dirs with the band
    * pushed on into the parquet reader. Hash-gated against the same
    * raw-events oracle as the helper-API read; pruned-path parity with
    * [[VersionedStore.readWhere]] and the SQL-over-a-view path are
    * spec-pinned in VersionedStoreSpec.
    */
  def storeDsv2(spark: SparkSession, dir: String): DataFrame = {
    val root = forgetStore(spark, dir)
    spark.read.format("graftstore").option("path", root)
      .option("versionAsOf", TimeTravelReadGen).load()
      .filter(col("user_id") >= SkipKeyLo && col("user_id") <= SkipKeyHi)
      .select(snapCols: _*)
  }

  /** Predicate DELETE (`q_store_delete`, VERDICT r17 missing #3):
    * `DELETE FROM store WHERE last_event_type = 'click'` as a
    * copy-on-write rewrite — candidate buckets pruned through the zone
    * map, buckets with no matching state rows carried forward BY
    * REFERENCE (their `gen` stays at the ingest generation), matched
    * buckets rewritten without the purged rows at the delete
    * generation, fully-purged buckets dropped from the manifest. The
    * oracle recomputes the post-delete state per row AND per bucket
    * (`gen` = 2 exactly where a click winner lived, the original
    * writer generation elsewhere), so the hash gate proves both the
    * row surgery and the untouched-bucket reference semantics. Own
    * store (ntile halves) — deletion must not mutate the shared
    * fixture store's history.
    */
  def storeDelete(spark: SparkSession, dir: String): DataFrame = {
    // a private fork of the shared 2-generation base: the DML below
    // mutates only the fork
    val root = StoreFixture.forkStorePrefix(StoreFixture.sharedStore(spark,
      dir, 2, 2, withTombstones = false), 1, "graft-vstore-del")
    val g = VersionedStore.deleteWhere(spark, root,
      VersionedStore.StorePredicate.EqTo("last_event_type",
        DeleteEventType),
      commitTs = StoreFixture.commitTs(2))
    VersionedStore.readAsOf(spark, root, g).select(snapCols: _*)
  }

  /** Predicate UPDATE (`q_store_update`, VERDICT r18 #4 — the other
    * compliance DML beside `q_store_delete`'s purge):
    * `UPDATE store SET last_value = 0.0, last_event_type = 'redacted'
    * WHERE last_event_type = 'click'` as a copy-on-write rewrite —
    * candidate buckets pruned through the zone map, no-match buckets
    * carried forward BY REFERENCE (`gen` stays at the ingest
    * generation), matched buckets rewritten with the assignments
    * applied to exactly the matching rows at the update generation,
    * fresh zone-map stats for the rewritten buckets. The oracle
    * recomputes the post-update state per row AND per bucket (`gen` = 2
    * exactly where a click winner lived, the original writer elsewhere),
    * so the hash gate proves the row surgery, the untouched-row
    * preservation INSIDE rewritten buckets, and the reference
    * semantics. Own store (ntile halves) — the update must not mutate
    * the shared fixture store's history.
    */
  def storeUpdate(spark: SparkSession, dir: String): DataFrame = {
    // a private fork of the shared 2-generation base: the DML below
    // mutates only the fork
    val root = StoreFixture.forkStorePrefix(StoreFixture.sharedStore(spark,
      dir, 2, 2, withTombstones = false), 1, "graft-vstore-upd")
    val g = VersionedStore.updateWhere(spark, root,
      VersionedStore.StorePredicate.EqTo("last_event_type",
        DeleteEventType),
      Seq("last_value" -> lit(UpdateRedactedValue),
        "last_event_type" -> lit(UpdateRedactedType)),
      commitTs = StoreFixture.commitTs(2))
    VersionedStore.readAsOf(spark, root, g).select(snapCols: _*)
  }

  /** One incremental-maintenance step: apply a change feed to a keyed
    * MV state — `delete` removes the key, `insert`/`update` set the
    * event id and add the version delta, untouched keys carry through.
    * ONE null-safe full-outer key join per step (the exact consumer
    * contract [[VersionedStore.changesBetween]] publishes).
    */
  private def applyChanges(state: DataFrame, feed: DataFrame): DataFrame = {
    val s = state.select(col("user_id").as("s_uid"),
      col("bucket").as("s_b"), col("last_event_id").as("s_eid"),
      col("n_versions").as("s_nv"))
    val f = feed.select(col("user_id").as("f_uid"),
      col("bucket").as("f_b"), col("change"), col("to_event_id"),
      col("nv_delta"))
    s.join(f, col("s_uid") <=> col("f_uid") && col("s_b") <=> col("f_b"),
        "full_outer")
      .filter(col("change").isNull || col("change") =!= "delete")
      .select(coalesce(col("s_uid"), col("f_uid")).as("user_id"),
        coalesce(col("s_b"), col("f_b")).as("bucket"),
        when(col("change").isNull, col("s_eid"))
          .otherwise(col("to_event_id")).as("last_event_id"),
        (coalesce(col("s_nv"), lit(0L)) +
          coalesce(col("nv_delta"), lit(0L))).as("n_versions"))
  }

  /** Incremental CDF consumer (`q_store_mv`, VERDICT r17 missing #2 —
    * "stream from the table"): a downstream materialized view
    * maintained GENERATION BY GENERATION from the change feed, never
    * re-reading a snapshot after initialization — seed from snapshot 0,
    * then fold `changesBetween(g-1, g)` through [[applyChanges]] for
    * every later generation including the tombstone one. The result is
    * the incrementally-maintained key state itself, and the oracle is
    * the DIRECT latest-per-key argmax over all events minus tombstoned
    * users — hash equality proves the feed-apply algebra converges to
    * the table (the spec's composability law, now driver-gated
    * end-to-end). Per-step cost is one live-store-sized key join; at
    * 100 TB the consumer price is the changed keys, not the table.
    */
  def storeMv(spark: SparkSession, dir: String): DataFrame = {
    val root = forgetStore(spark, dir)
    val init = VersionedStore.readAsOf(spark, root, 0)
      .filter(col("last_event_type") =!= TombstoneType)
      .select(col("user_id"), col("bucket"), col("last_event_id"),
        col("n_versions"))
    (1 to TimeTravelGens).foldLeft(init) { (state, g) =>
      applyChanges(state, VersionedStore.changesBetweenGens(spark, root,
        g - 1, g, TombstoneType))
    }
  }

  /** The MV key-state schema the persisted consumer reads its state
    * back under (explicit — no inference in the hash-gated path).
    */
  private val mvStateSchema = StructType(Seq(
    StructField("user_id", LongType), StructField("bucket", LongType),
    StructField("last_event_id", LongType),
    StructField("n_versions", LongType)))

  /** ONE persisted-state maintenance step (round 19, VERDICT r18 #3):
    * read the materialized state as of generation `g-1` from
    * `prevStatePath` and apply window (g-1 -> g)'s manifest-pruned
    * change feed. The returned frame's lineage is O(1) deep — the state
    * parquet + the window's changed buckets — regardless of how many
    * windows preceded it; spec-pinned by its scan root paths.
    */
  private[graft] def mvPersistedStep(spark: SparkSession, root: String,
      prevStatePath: String, g: Int): DataFrame =
    applyChanges(
      spark.read.schema(mvStateSchema).parquet(prevStatePath),
      VersionedStore.changesBetweenGens(spark, root, g - 1, g,
        TombstoneType))

  /** Persisted-state CDF consumer (`q_store_mv_persisted`, VERDICT r18
    * #3 — the scale fix for [[storeMv]]'s one-lineage fold): the same
    * seed-then-apply algebra, but the MV state MATERIALIZES to parquet
    * after every feed window (the `q_mv_refresh` grain-state pattern),
    * so step N's plan reads ONLY the persisted state + window N's feed
    * instead of chaining every previous full-outer join into one lazy
    * lineage. Correct either way — the lazy fold is flat at fixture
    * generation counts — but at thousands of commits the fold's plan
    * depth (and Catalyst analysis time) grows linearly while this
    * consumer's per-step plan is CONSTANT; the state write is
    * key-state-sized, the feed read changed-partition-sized. Result is
    * hash-gated against the same direct-snapshot oracle as q_store_mv.
    */
  def storeMvPersisted(spark: SparkSession, dir: String): DataFrame = {
    val root = forgetStore(spark, dir)
    val stateDir = graft.engine.TempArtifacts.tempDir("graft-mv-state")
    def statePath(g: Int) = s"$stateDir/state-g$g"
    VersionedStore.readAsOf(spark, root, 0)
      .filter(col("last_event_type") =!= TombstoneType)
      .select(col("user_id"), col("bucket"), col("last_event_id"),
        col("n_versions"))
      .write.mode("overwrite").parquet(statePath(0))
    (1 to TimeTravelGens).foreach { g =>
      mvPersistedStep(spark, root, statePath(g - 1), g)
        .write.mode("overwrite").parquet(statePath(g))
    }
    spark.read.schema(mvStateSchema).parquet(statePath(TimeTravelGens))
  }

  /** SQL front door (`q_store_sql_asof`, VERDICT r17 missing #6): the
    * `VERSION AS OF` shape — [[VersionedStore.registerSnapshotView]]
    * binds a pinned snapshot to a temp view and plain `spark.sql` runs
    * over it (here a per-(bucket, writer-generation) rollup, so the
    * result exercises the manifest metadata THROUGH the SQL surface).
    * Same pruned scan as the Scala read — the view wraps the identical
    * plan, adding zero overhead.
    */
  def storeSqlAsOf(spark: SparkSession, dir: String): DataFrame = {
    val root = forgetStore(spark, dir)
    VersionedStore.registerSnapshotView(spark, root,
      "graft_vstore_asof", TimeTravelReadGen)
    spark.sql("""
      SELECT bucket, gen, count(*) AS n_users,
        sum(n_versions) AS n_versions,
        min(last_event_id) AS min_event_id,
        max(last_event_id) AS max_event_id
      FROM graft_vstore_asof GROUP BY bucket, gen""")
  }

  /** Retention-then-erasure audit (`q_forget_audit`, VERDICT r15 #5 —
    * the governance query the versioned store exists for): in the
    * [[forgetStore]], tombstones for every `user_id % ForgetMod == 0`
    * are the LAST generation, and ONE result fingerprints both sides of
    * the RTBF lifecycle — the pre-deletion snapshot (generation
    * [[TimeTravelGens]]-1) still contains every to-be-forgotten user
    * (auditable retention: "prove you HAD the data when the request
    * arrived"), while the
    * post-deletion snapshot (generation [[TimeTravelGens]]) provably
    * excludes them (erasure: the tombstone wins the argmax and the
    * read contract drops tombstone winners). Both phases aggregate to
    * per-bucket row counts, forgotten-key counts, and an exact modular
    * fingerprint over (user_id, last_event_id) — the hash gate proves
    * presence AND absence, not just cardinalities.
    */
  def forgetAudit(spark: SparkSession, dir: String): DataFrame = {
    val root = forgetStore(spark, dir)
    def phase(name: String, gen: Int): DataFrame =
      VersionedStore.readAsOf(spark, root, gen)
        .filter(col("last_event_type") =!= TombstoneType)
        .groupBy(lit(name).as("phase"), col("bucket"))
        .agg(count(lit(1)).as("n_users"),
          sum(when(pmod(col("user_id"), lit(ForgetMod)) === 0, 1L)
            .otherwise(0L)).as("n_forget"),
          (sum(graft.functions.StringFunctions.utf8_poly_id(
            concat(col("user_id").cast("string"), lit(":"),
              col("last_event_id").cast("string")),
            graft.engine.Dedup.IdMod).cast("decimal(38,0)")) %
            graft.engine.Dedup.IdMod).cast("long").as("fp"))
    phase("pre", TimeTravelGens - 1)
      .unionByName(phase("post", TimeTravelGens))
  }

  /** Streaming ingest curation: the stateless quality gate a production
    * ingest runs on every arriving document — token count, quality score
    * and language marker computed map-side ON THE STREAM, rows failing
    * the corpus-curate gates dropped in flight. No windows and no state
    * store, so append-mode output over the finite replay is EXACTLY the
    * batch-filtered set (fully oracle-checkable), and each microbatch
    * pipelines through with zero shuffle — the shape that scales to any
    * ingest rate by adding executors. Gate constants are shared with
    * [[graft.engine.Curation.corpusCurate]] (this pass gates only; the
    * keeper election that needs cross-document state stays batch-side or
    * in [[streamDedup]]'s keyed-state form).
    */
  private val docSchema =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("lang",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("source",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("n_chars",
        org.apache.spark.sql.types.LongType)))

  def streamQuality(spark: SparkSession, dir: String): DataFrame = {
    import graft.engine.{Curation, TextOps}
    val s2 = spark.newSession() // stateless: no state sizing needed
    val docs = s2.readStream.schema(docSchema)
      .option("pathGlobFilter", "documents.parquet").parquet(dir)
    val toks = TextOps.segmentTokens(col("text")) // shared tokenizer
    val nTok = size(toks)
    val nStop = size(filter(toks,
      t => t.isInCollection(TextOps.Stopwords)))
    val scoreEn = size(filter(toks,
      t => t.isInCollection(TextOps.LangMarkers.head._2)))
    val q0 = round(
      least(nTok.cast("double") / 50, lit(1.0)) *
        (lit(1.0) - nStop.cast("double") / nTok), 6)
    val gated = docs.select(col("doc_id"), col("source"),
        nTok.cast("long").as("n_tok"),
        round(q0 * 1000000L).cast("long").as("q_micro"),
        scoreEn.as("score_en"))
      .filter(
        col("q_micro") >= (Curation.QualityFloor * 1000000L).toLong &&
          col("n_tok").between(Curation.MinTokens, Curation.MaxTokens) &&
          col("score_en") >= 1)
      .select("doc_id", "source", "n_tok", "q_micro")
    drain(gated, "qual", "append")
  }

  /** Read schema for the content-gate's synthesized ingest file
    * (doc_id + text only — the gate needs nothing else).
    */
  private val gateSchema =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType)))

  /** Streaming content-taxonomy ingest gate — the safety REJECT path at
    * the crawl mouth: each arriving document's per-category term-hit
    * counts come from the native [[graft.functions.TokenSetStats]]
    * expression (ONE scan per doc, and the proof that the custom
    * codegen'd expressions compose with Structured Streaming's
    * stateless pipeline — the same struct the batch `q_content_flags`
    * rides), and documents whose any category reaches the instance
    * floor are DROPPED before admission. The ingest file is synthesized
    * as corpus ∪ the batch query's planted rows so the reject path is
    * actually exercised (three planted rows must die at the gate; the
    * one-mention row must pass). Stateless map+filter — zero streaming
    * state at any corpus size; the sink holds the admitted set with
    * the audit-trail hit totals.
    */
  def streamContentGate(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.engine.TextOps
    val in = graft.engine.TempArtifacts.tempDir("graft_cgate_in")
    graft.engine.Tables.documents(spark, dir).select("doc_id", "text")
      .unionByName(TextOps.ContentPlantedRows.toDF("doc_id", "text"))
      .write.mode("overwrite").parquet(s"$in/documents.parquet")
    val s2 = spark.newSession() // stateless: no state sizing needed
    val docs = s2.readStream.schema(gateSchema)
      .option("pathGlobFilter", "*.parquet")
      .parquet(s"$in/documents.parquet")
    val fs = graft.functions.StringFunctions.token_set_stats(
      col("text"), TextOps.SegPerCharClass, TextOps.SegWsChars,
      TextOps.ContentTaxonomy.map(_._2))
    val hits = TextOps.ContentTaxonomy.indices
      .map(i => col("f.set_counts").getItem(i))
    val flagged = hits.map(_ >= TextOps.ContentFlagMin).reduce(_ || _)
    val gated = docs.select(col("doc_id"), fs.as("f"))
      .select(col("doc_id"), hits.reduce(_ + _).as("n_total"),
        flagged.as("flagged"))
      .filter(!col("flagged"))
      .select("doc_id", "n_total")
    drain(gated, "cgate", "append")
  }

  /** Streaming bounded-state distinct count: per-hour distinct users via
    * the [[graft.functions.KmvSketch]] KMV aggregator over the portable
    * poly hash of the user id. Exact streaming `countDistinct` is
    * UNSUPPORTED by Spark for a reason — its state is one entry per
    * distinct key per window, unbounded on a real stream; the sketch
    * caps state at k longs per window, and because the buffer is an
    * order statistic of a portable hash, the final sink (buffer size AND
    * estimate) replays bit for bit in the DuckDB oracle — the streaming
    * chapter of the KMV story after `q_kmv_distinct` (batch) and
    * `q_kmv_jaccard` (pair algebra).
    *
    * Complete mode ⇒ after `processAllAvailable` the sink holds the
    * converged per-window sketches regardless of microbatch splits (the
    * KMV merge is associative/commutative/duplicate-safe — the spec
    * proves the partial-agg law, so batch boundaries cannot change the
    * buffer). The exact per-window distinct rides beside it from a BATCH
    * epilogue over the same fixture: the acceptance harness, priced at
    * the exact distinct exchange the sketch exists to avoid.
    */
  def streamDistinct(spark: SparkSession, dir: String): DataFrame = {
    val s2 = sizedStreamSession(spark, dir)
    val k = graft.engine.Ext.KmvK
    val kmv = udaf(new graft.functions.KmvSketchSql(k),
      org.apache.spark.sql.Encoders.LONG)
    val sketches = drain(EventStream.readEvents(s2, dir)
      .withWatermark("ts", "2 hours")
      .select(col("ts"),
        graft.functions.StringFunctions.utf8_poly_id(
          col("user_id").cast("string"),
          graft.engine.Dedup.IdMod).as("hv"))
      .groupBy(window(col("ts"), "1 hour"))
      .agg(kmv(col("hv")).as("sketch"), count(lit(1)).as("n_events"))
      .select(col("window.start").as("window_start"),
        col("sketch"), col("n_events")), "kmv", "complete")
    val exact = graft.engine.Tables.eventsIn(s2, spark, dir)
      .groupBy(window(col("ts"), "1 hour"))
      .agg(countDistinct(col("user_id")).as("n_exact"))
      .select(col("window.start").as("window_start"), col("n_exact"))
    sketches.join(exact, Seq("window_start"))
      .select(col("window_start"), col("n_events"), col("n_exact"),
        size(col("sketch")).cast("long").as("n_sketch"),
        when(size(col("sketch")) < k,
          size(col("sketch")).cast("double"))
          .otherwise(round(
            lit((k - 1).toDouble * graft.engine.Dedup.IdMod.toDouble) /
              element_at(col("sketch"), k).cast("double"), 6))
          .as("kmv_est"))
  }

  val queries: Map[String, Q] = Map(
    "q_stream_distinct" -> streamDistinct _,
    "q_stream_event_window" -> streamEventWindow _,
    "q_stream_sessions" -> streamSessions _,
    "q_stream_dedup" -> streamDedup _,
    "q_stream_enrich" -> streamEnrich _,
    "q_stream_join" -> streamStreamJoin _,
    "q_stream_upsert" -> streamUpsert _,
    "q_stream_forget" -> streamForget _,
    "q_stream_quality" -> streamQuality _,
    "q_stream_content_gate" -> streamContentGate _,
    "q_time_travel" -> timeTravel _,
    "q_time_travel_ts" -> timeTravelTs _,
    "q_store_lookup" -> storeLookup _,
    "q_store_skipping" -> storeSkipping _,
    "q_store_dsv2" -> storeDsv2 _,
    "q_store_delete" -> storeDelete _,
    "q_store_update" -> storeUpdate _,
    "q_store_mv" -> storeMv _,
    "q_store_mv_persisted" -> storeMvPersisted _,
    "q_store_sql_asof" -> storeSqlAsOf _,
    "q_forget_audit" -> forgetAudit _,
    "q_store_vacuum" -> storeVacuum _,
    "q_change_feed" -> changeFeed _,
    "q_change_feed_pair" -> changeFeedPair _,
    "q_concurrent_commit" -> concurrentCommit _,
    "q_store_restore" -> storeRestore _,
    "q_store_schema_evolution" -> storeSchemaEvolution _)

  /** Null-safe bucket derivation in DuckDB terms — the SQL twin of
    * [[VersionedStore.bucketOf]], the stores' one routing expression
    * (ADVICE r16: today's fixture has no NULL user_id, but the
    * implementation and specs explicitly guarantee null-key routing, so
    * the oracles must encode the same contract instead of drifting
    * latently; DuckDB's % keeps the dividend's sign, hence the
    * double-mod). The modulus interpolates the shared layout constant.
    */
  private def bucketSql(expr: String): String =
    s"CAST(((coalesce($expr, -1) % ${VersionedStore.Buckets}) + " +
      s"${VersionedStore.Buckets}) % ${VersionedStore.Buckets} AS BIGINT)"

  /** The versioned snapshot AS OF generation `readGen` in DuckDB terms:
    * the latest-per-key argmax over exactly the ntile-prefix of events
    * generations 0..readGen absorbed; `gen` re-derives the manifest's
    * carry-forward map (which generation last wrote each bucket).
    * Shared by `q_time_travel` (generation pinned) and
    * `q_time_travel_ts` (generation RESOLVED from a timestamp — same
    * snapshot algebra, different read path under test).
    */
  private def timeTravelSnapshotSql(readGen: Int): String =
    s"""WITH b AS (SELECT event_id, ts, user_id, event_type, value,
       |    ntile($TimeTravelGens) OVER (ORDER BY ts, event_id) - 1
       |      AS bat FROM events),
       |cut AS (SELECT * FROM b WHERE bat <= $readGen),
       |g AS (SELECT ${bucketSql("user_id")} AS bucket,
       |    CAST(max(bat) AS INT) AS gen FROM cut GROUP BY 1),
       |r AS (SELECT *, row_number() OVER (PARTITION BY user_id
       |      ORDER BY ts DESC, event_id DESC) AS rn,
       |    count(*) OVER (PARTITION BY user_id) AS cnt FROM cut)
       |SELECT r.user_id, ${bucketSql("r.user_id")} AS bucket,
       |  g.gen, r.ts AS last_ts, r.event_id AS last_event_id,
       |  r.event_type AS last_event_type,
       |  round(CAST(CAST(r.value AS DECIMAL(12,2)) AS DOUBLE), 2)
       |    AS last_value,
       |  cnt AS n_versions
       |FROM r JOIN g ON ${bucketSql("r.user_id")} = g.bucket
       |WHERE rn = 1""".stripMargin

  /** Latest-per-key (event_id, n_versions) state over the ntile prefix
    * 0..maxBat — one side of a change-feed diff.
    */
  private def cdfSideSql(maxBat: Int): String =
    s"""SELECT user_id, event_id, cnt FROM (
       |    SELECT user_id, event_id, row_number() OVER (PARTITION BY
       |        user_id ORDER BY ts DESC, event_id DESC) AS rn,
       |      count(*) OVER (PARTITION BY user_id) AS cnt
       |    FROM b WHERE bat <= $maxBat) WHERE rn = 1""".stripMargin

  /** Identical to the batch `q_event_window` oracle: the stream replays
    * the same finite fixture, and complete mode converges to the batch
    * aggregate.
    */
  val oracles: Map[String, String] = Map(
    "q_stream_distinct" -> {
      val k = graft.engine.Ext.KmvK
      val mod = graft.engine.Dedup.IdMod
      s"""WITH d AS (SELECT DISTINCT date_trunc('hour', ts)
         |    AS window_start,
         |    ${graft.engine.Dedup.idUtf8Sql("CAST(user_id AS VARCHAR)")}
         |    AS hv FROM events),
         |r AS (SELECT window_start, hv, row_number() OVER
         |      (PARTITION BY window_start ORDER BY hv) AS rn,
         |    count(*) OVER (PARTITION BY window_start) AS nd FROM d),
         |kth AS (SELECT window_start, max(nd) AS nd,
         |    max(CASE WHEN rn = $k THEN hv END) AS hk
         |  FROM r GROUP BY window_start),
         |ex AS (SELECT date_trunc('hour', ts) AS window_start,
         |    count(*) AS n_events,
         |    CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact
         |  FROM events GROUP BY 1)
         |SELECT window_start, n_events, n_exact,
         |  CAST(LEAST(nd, $k) AS BIGINT) AS n_sketch,
         |  CASE WHEN nd < $k THEN CAST(nd AS DOUBLE)
         |    ELSE round(${k - 1} * $mod.0 / hk, 6) END AS kmv_est
         |FROM ex JOIN kth USING (window_start)""".stripMargin
    },
    "q_stream_event_window" ->
      """SELECT date_trunc('hour', ts) AS window_start, event_type, count(*) AS n, round(CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE), 2) AS sum_value, round(CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) / count(*), 6) AS avg_value FROM events GROUP BY 1, 2""",
    "q_stream_sessions" ->
      """WITH flagged AS (SELECT user_id, ts, event_id, CASE WHEN epoch_us(ts) - lag(epoch_us(ts), 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) > 1800000000 OR lag(epoch_us(ts), 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL THEN 1 ELSE 0 END AS new_sess FROM events), sessions AS (SELECT user_id, ts, CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq FROM flagged) SELECT user_id, min(ts) AS session_start, max(ts) AS session_end, count(*) AS n_events FROM sessions GROUP BY user_id, session_seq""",
    "q_stream_dedup" ->
      """SELECT DISTINCT user_id, event_type FROM events""",
    "q_stream_enrich" ->
      """SELECT event_id, user_id, coalesce(c_mktsegment, 'UNKNOWN') AS segment, event_type, round(CAST(CAST(value AS DECIMAL(12,2)) AS DOUBLE), 2) AS value FROM events LEFT JOIN customer ON user_id = c_custkey""",
    "q_stream_join" ->
      """SELECT c.event_id AS click_id, c.user_id, c.ts AS click_ts, p.event_id AS purchase_id, p.ts AS purchase_ts, epoch_us(p.ts) - epoch_us(c.ts) AS gap_us FROM events c JOIN events p ON c.user_id = p.user_id AND c.event_type = 'click' AND p.event_type = 'purchase' AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE""",
    "q_stream_upsert" ->
      s"""SELECT user_id, ${bucketSql("user_id")} AS bucket, ts AS last_ts, event_id AS last_event_id, event_type AS last_event_type, round(CAST(CAST(value AS DECIMAL(12,2)) AS DOUBLE), 2) AS last_value, cnt AS n_versions FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn, count(*) OVER (PARTITION BY user_id) AS cnt FROM events) WHERE rn = 1""",
    // retained keys only — tombstoned users (user_id % ForgetMod = 0)
    // must be ABSENT, which the hash equality proves
    "q_stream_forget" ->
      s"""SELECT user_id, ${bucketSql("user_id")} AS bucket, ts AS last_ts, event_id AS last_event_id, event_type AS last_event_type, round(CAST(CAST(value AS DECIMAL(12,2)) AS DOUBLE), 2) AS last_value, cnt AS n_versions FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn, count(*) OVER (PARTITION BY user_id) AS cnt FROM events) WHERE rn = 1 AND user_id % $ForgetMod <> 0""",
    "q_stream_content_gate" -> {
      import graft.engine.TextOps
      val values = TextOps.ContentPlantedRows.map { case (id, t) =>
        s"($id, ${TextOps.sqlLit(t)})"
      }.mkString(", ")
      val hitSum = TextOps.ContentTaxonomy.map { case (_, words) =>
        val ws = words.map(w => s"'$w'").mkString(", ")
        s"len(list_filter(t, x -> x IN ($ws)))"
      }.mkString(" + ")
      val flagPred = TextOps.ContentTaxonomy.map { case (_, words) =>
        val ws = words.map(w => s"'$w'").mkString(", ")
        s"len(list_filter(t, x -> x IN ($ws)))" +
          s" >= ${TextOps.ContentFlagMin}"
      }.mkString(" OR ")
      s"""WITH docs AS (SELECT doc_id, text FROM documents
         |  UNION ALL SELECT * FROM (VALUES $values) v(doc_id, text)),
         |tok AS (SELECT doc_id, ${TextOps.segmentSql("text")} AS t
         |  FROM docs)
         |SELECT doc_id, CAST($hitSum AS BIGINT) AS n_total
         |FROM tok WHERE NOT ($flagPred)""".stripMargin
    },
    // the snapshot AS OF generation TimeTravelReadGen (see
    // timeTravelSnapshotSql); q_time_travel_ts resolves an AS-OF
    // INSTANT to generation TimeTravelTsGen through the manifest commit
    // timestamps and must reproduce the same snapshot algebra at that
    // interior generation
    "q_time_travel" -> timeTravelSnapshotSql(TimeTravelReadGen),
    "q_time_travel_ts" -> timeTravelSnapshotSql(TimeTravelTsGen),
    // the point-lookup pair: the same historical snapshot restricted to
    // the corpus min/max user_id — a key the cut prefix never absorbed
    // yields no row on either engine
    "q_store_lookup" ->
      s"""SELECT * FROM (${timeTravelSnapshotSql(TimeTravelReadGen)})
         |WHERE user_id = (SELECT min(user_id) FROM events)
         |   OR user_id = (SELECT max(user_id) FROM events)""".stripMargin,
    // the zone-map band read: the same historical snapshot restricted
    // to the [SkipKeyLo, SkipKeyHi] key band — the oracle recounts the
    // band from raw events, so a pruning bug that drops a qualifying
    // bucket hash-fails; the pruned plan SHAPE is spec-pinned
    "q_store_skipping" ->
      s"""SELECT * FROM (${timeTravelSnapshotSql(TimeTravelReadGen)})
         |WHERE user_id BETWEEN $SkipKeyLo AND $SkipKeyHi""".stripMargin,
    // the DSv2 read of the SAME band must produce the SAME snapshot
    // rows — the pruning moved into the planner, the answer must not
    "q_store_dsv2" ->
      s"""SELECT * FROM (${timeTravelSnapshotSql(TimeTravelReadGen)})
         |WHERE user_id BETWEEN $SkipKeyLo AND $SkipKeyHi""".stripMargin,
    // predicate DELETE over the two-generation store: post-delete state
    // = the argmax state minus '$DeleteEventType' winners, with gen
    // pinned to the delete generation (2) exactly where a matching row
    // lived (the bucket was rewritten) and to the original writer
    // generation elsewhere (carried forward by reference)
    "q_store_delete" ->
      s"""WITH b AS (SELECT event_id, ts, user_id, event_type, value,
         |    ntile(2) OVER (ORDER BY ts, event_id) - 1 AS bat
         |  FROM events),
         |g AS (SELECT ${bucketSql("user_id")} AS bucket,
         |    CAST(max(bat) AS INT) AS gen0 FROM b GROUP BY 1),
         |r AS (SELECT *, row_number() OVER (PARTITION BY user_id
         |      ORDER BY ts DESC, event_id DESC) AS rn,
         |    count(*) OVER (PARTITION BY user_id) AS cnt FROM b),
         |s AS (SELECT user_id, ${bucketSql("user_id")} AS bucket, ts,
         |    event_id, event_type, value, cnt FROM r WHERE rn = 1),
         |d AS (SELECT *, max(CASE WHEN event_type = '$DeleteEventType'
         |      THEN 1 ELSE 0 END) OVER (PARTITION BY bucket) AS touched
         |  FROM s)
         |SELECT d.user_id, d.bucket,
         |  CAST(CASE WHEN d.touched = 1 THEN 2 ELSE g.gen0 END AS INT)
         |    AS gen,
         |  d.ts AS last_ts, d.event_id AS last_event_id,
         |  d.event_type AS last_event_type,
         |  round(CAST(CAST(d.value AS DECIMAL(12,2)) AS DOUBLE), 2)
         |    AS last_value,
         |  d.cnt AS n_versions
         |FROM d JOIN g ON d.bucket = g.bucket
         |WHERE d.event_type <> '$DeleteEventType'""".stripMargin,
    // predicate UPDATE over the two-generation store: post-update state
    // = the argmax state with every '$DeleteEventType' winner's payload
    // redacted in place (value -> 0.0, type -> 'redacted'; key, ts,
    // event_id, n_versions untouched), gen pinned to the update
    // generation (2) exactly where a matching row lived and to the
    // original writer generation elsewhere
    "q_store_update" ->
      s"""WITH b AS (SELECT event_id, ts, user_id, event_type, value,
         |    ntile(2) OVER (ORDER BY ts, event_id) - 1 AS bat
         |  FROM events),
         |g AS (SELECT ${bucketSql("user_id")} AS bucket,
         |    CAST(max(bat) AS INT) AS gen0 FROM b GROUP BY 1),
         |r AS (SELECT *, row_number() OVER (PARTITION BY user_id
         |      ORDER BY ts DESC, event_id DESC) AS rn,
         |    count(*) OVER (PARTITION BY user_id) AS cnt FROM b),
         |s AS (SELECT user_id, ${bucketSql("user_id")} AS bucket, ts,
         |    event_id, event_type, value, cnt FROM r WHERE rn = 1),
         |d AS (SELECT *, max(CASE WHEN event_type = '$DeleteEventType'
         |      THEN 1 ELSE 0 END) OVER (PARTITION BY bucket) AS touched
         |  FROM s)
         |SELECT d.user_id, d.bucket,
         |  CAST(CASE WHEN d.touched = 1 THEN 2 ELSE g.gen0 END AS INT)
         |    AS gen,
         |  d.ts AS last_ts, d.event_id AS last_event_id,
         |  CASE WHEN d.event_type = '$DeleteEventType'
         |    THEN '$UpdateRedactedType' ELSE d.event_type END
         |    AS last_event_type,
         |  round(CAST(CAST(CASE WHEN d.event_type = '$DeleteEventType'
         |    THEN $UpdateRedactedValue ELSE d.value END
         |    AS DECIMAL(12,2)) AS DOUBLE), 2) AS last_value,
         |  d.cnt AS n_versions
         |FROM d JOIN g ON d.bucket = g.bucket""".stripMargin,
    // the incrementally-maintained MV must converge to the direct
    // latest-per-key state minus tombstoned users — the feed-apply
    // algebra's end-to-end acceptance (the _persisted variant
    // materializes state between windows and must converge to the SAME
    // table — identical oracle)
    "q_store_mv_persisted" ->
      s"""SELECT user_id, ${bucketSql("user_id")} AS bucket,
         |  event_id AS last_event_id, cnt AS n_versions
         |FROM (SELECT *, row_number() OVER (PARTITION BY user_id
         |    ORDER BY ts DESC, event_id DESC) AS rn,
         |  count(*) OVER (PARTITION BY user_id) AS cnt FROM events)
         |WHERE rn = 1 AND user_id % $ForgetMod <> 0""".stripMargin,
    "q_store_mv" ->
      s"""SELECT user_id, ${bucketSql("user_id")} AS bucket,
         |  event_id AS last_event_id, cnt AS n_versions
         |FROM (SELECT *, row_number() OVER (PARTITION BY user_id
         |    ORDER BY ts DESC, event_id DESC) AS rn,
         |  count(*) OVER (PARTITION BY user_id) AS cnt FROM events)
         |WHERE rn = 1 AND user_id % $ForgetMod <> 0""".stripMargin,
    // the SQL-front-door rollup over the AS-OF view: per (bucket,
    // writer generation) key counts and version sums of the same
    // snapshot algebra q_time_travel pins row-wise
    "q_store_sql_asof" ->
      s"""SELECT bucket, gen, count(*) AS n_users,
         |  CAST(sum(n_versions) AS BIGINT) AS n_versions,
         |  min(last_event_id) AS min_event_id,
         |  max(last_event_id) AS max_event_id
         |FROM (${timeTravelSnapshotSql(TimeTravelReadGen)})
         |GROUP BY bucket, gen""".stripMargin,
    // net changes between the from-prefix and the full replay +
    // tombstones: inserts = users first seen after the cut, deletes =
    // tombstoned users that existed at the cut (insert-then-delete
    // nets out), updates = argmax moved OR version count grew
    // net changes between the from-prefix and the to-prefix; the join is
    // IS NOT DISTINCT FROM (the oracle twin of the implementation's <=>
    // null-safe key equality, ADVICE r16). q_change_feed's `to` is the
    // full replay + tombstones (all three change types); the _pair
    // variant diffs the interior (0 -> TimeTravelTsGen) pre-tombstone
    // window, where the delete branch is vacuously absent by fixture
    // construction (no tombstones committed yet) — the oracle keeps the
    // tombstone-free CASE so a delete appearing would hash-fail loudly
    "q_change_feed" ->
      s"""WITH b AS (SELECT event_id, ts, user_id,
         |    ntile($TimeTravelGens) OVER (ORDER BY ts, event_id) - 1
         |      AS bat FROM events),
         |f AS (${cdfSideSql(TimeTravelReadGen)}),
         |t AS (${cdfSideSql(TimeTravelGens - 1)}),
         |j AS (SELECT coalesce(f.user_id, t.user_id) AS user_id,
         |    f.event_id AS from_event_id, f.cnt AS from_nv,
         |    t.event_id AS to_eid, t.cnt AS to_nv,
         |    CASE WHEN coalesce(f.user_id, t.user_id) % $ForgetMod = 0
         |        THEN CASE WHEN f.user_id IS NULL THEN NULL
         |          ELSE 'delete' END
         |      WHEN f.user_id IS NULL THEN 'insert'
         |      WHEN t.event_id <> f.event_id OR t.cnt <> f.cnt
         |        THEN 'update'
         |      ELSE NULL END AS change
         |  FROM f FULL OUTER JOIN t
         |    ON f.user_id IS NOT DISTINCT FROM t.user_id)
         |SELECT user_id, ${bucketSql("user_id")} AS bucket, change,
         |  from_event_id,
         |  CASE WHEN change = 'delete' THEN NULL ELSE to_eid END
         |    AS to_event_id,
         |  CASE WHEN change = 'delete' THEN NULL
         |    ELSE to_nv - coalesce(from_nv, 0) END AS nv_delta
         |FROM j WHERE change IS NOT NULL""".stripMargin,
    "q_change_feed_pair" ->
      s"""WITH b AS (SELECT event_id, ts, user_id,
         |    ntile($TimeTravelGens) OVER (ORDER BY ts, event_id) - 1
         |      AS bat FROM events),
         |f AS (${cdfSideSql(0)}),
         |t AS (${cdfSideSql(TimeTravelTsGen)}),
         |j AS (SELECT coalesce(f.user_id, t.user_id) AS user_id,
         |    f.event_id AS from_event_id, f.cnt AS from_nv,
         |    t.event_id AS to_eid, t.cnt AS to_nv,
         |    CASE WHEN f.user_id IS NULL THEN 'insert'
         |      WHEN t.event_id <> f.event_id OR t.cnt <> f.cnt
         |        THEN 'update'
         |      ELSE NULL END AS change
         |  FROM f FULL OUTER JOIN t
         |    ON f.user_id IS NOT DISTINCT FROM t.user_id)
         |SELECT user_id, ${bucketSql("user_id")} AS bucket, change,
         |  from_event_id, to_eid AS to_event_id,
         |  to_nv - coalesce(from_nv, 0) AS nv_delta
         |FROM j WHERE change IS NOT NULL""".stripMargin,
    // post-compaction + vacuum latest snapshot = the plain batch argmax
    // over ALL events with every bucket's writer generation pinned to
    // the compaction id — OPTIMIZE/VACUUM must be logically invisible
    "q_store_vacuum" ->
      s"""SELECT user_id, ${bucketSql("user_id")} AS bucket,
         |  CAST($TimeTravelGens AS INT) AS gen, ts AS last_ts,
         |  event_id AS last_event_id, event_type AS last_event_type,
         |  round(CAST(CAST(value AS DECIMAL(12,2)) AS DOUBLE), 2)
         |    AS last_value,
         |  cnt AS n_versions
         |FROM (SELECT *, row_number() OVER (PARTITION BY user_id
         |    ORDER BY ts DESC, event_id DESC) AS rn,
         |  count(*) OVER (PARTITION BY user_id) AS cnt FROM events)
         |WHERE rn = 1""".stripMargin,
    // interleaved OPTIMIZE-vs-ingest schedule: the plain batch argmax
    // over ALL events (= the serial outcome), with each bucket's writer
    // generation pinned to the REBASED ingest (3) where the racing
    // batch (ntile third 2) touched it and to the compaction (2) where
    // it carried forward — the manifest layer under test, per bucket
    "q_concurrent_commit" ->
      s"""WITH b AS (SELECT event_id, ts, user_id, event_type, value,
         |    ntile(3) OVER (ORDER BY ts, event_id) - 1 AS bat
         |  FROM events),
         |g AS (SELECT ${bucketSql("user_id")} AS bucket,
         |    CAST(CASE WHEN max(bat) = 2 THEN 3 ELSE 2 END AS INT)
         |      AS gen
         |  FROM b GROUP BY 1),
         |r AS (SELECT *, row_number() OVER (PARTITION BY user_id
         |      ORDER BY ts DESC, event_id DESC) AS rn,
         |    count(*) OVER (PARTITION BY user_id) AS cnt FROM b)
         |SELECT r.user_id, ${bucketSql("r.user_id")} AS bucket,
         |  g.gen, r.ts AS last_ts, r.event_id AS last_event_id,
         |  r.event_type AS last_event_type,
         |  round(CAST(CAST(r.value AS DECIMAL(12,2)) AS DOUBLE), 2)
         |    AS last_value,
         |  cnt AS n_versions
         |FROM r JOIN g ON ${bucketSql("r.user_id")} = g.bucket
         |WHERE rn = 1""".stripMargin,
    // rewind-and-replay: the live timeline after restore(0) + batch 2
    // is history with batch 1 ERASED — argmax over bat <> 1 events,
    // gen = 3 where batch 2 touched the bucket, 0 (the re-referenced
    // restored writer) where it carried forward
    "q_store_restore" ->
      s"""WITH b AS (SELECT event_id, ts, user_id, event_type, value,
         |    ntile(3) OVER (ORDER BY ts, event_id) - 1 AS bat
         |  FROM events),
         |cut AS (SELECT * FROM b WHERE bat <> 1),
         |g AS (SELECT ${bucketSql("user_id")} AS bucket,
         |    CAST(CASE WHEN max(bat) = 2 THEN 3 ELSE 0 END AS INT)
         |      AS gen
         |  FROM cut GROUP BY 1),
         |r AS (SELECT *, row_number() OVER (PARTITION BY user_id
         |      ORDER BY ts DESC, event_id DESC) AS rn,
         |    count(*) OVER (PARTITION BY user_id) AS cnt FROM cut)
         |SELECT r.user_id, ${bucketSql("r.user_id")} AS bucket,
         |  g.gen, r.ts AS last_ts, r.event_id AS last_event_id,
         |  r.event_type AS last_event_type,
         |  round(CAST(CAST(r.value AS DECIMAL(12,2)) AS DOUBLE), 2)
         |    AS last_value,
         |  cnt AS n_versions
         |FROM r JOIN g ON ${bucketSql("r.user_id")} = g.bucket
         |WHERE rn = 1""".stripMargin,
    // add-column evolution: winners from the pre-evolution half carry
    // NULL in the added column, winners from the evolved half carry
    // upper(event_type) — per-row proof of where the null-padding landed
    "q_store_schema_evolution" ->
      s"""WITH b AS (SELECT event_id, ts, user_id, event_type, value,
         |    ntile(2) OVER (ORDER BY ts, event_id) - 1 AS bat
         |  FROM events),
         |g AS (SELECT ${bucketSql("user_id")} AS bucket,
         |    CAST(max(bat) AS INT) AS gen FROM b GROUP BY 1),
         |r AS (SELECT *, row_number() OVER (PARTITION BY user_id
         |      ORDER BY ts DESC, event_id DESC) AS rn,
         |    count(*) OVER (PARTITION BY user_id) AS cnt FROM b)
         |SELECT r.user_id, ${bucketSql("r.user_id")} AS bucket,
         |  g.gen, r.ts AS last_ts, r.event_id AS last_event_id,
         |  r.event_type AS last_event_type,
         |  round(CAST(CAST(r.value AS DECIMAL(12,2)) AS DOUBLE), 2)
         |    AS last_value,
         |  cnt AS n_versions,
         |  CASE WHEN r.bat = 1 THEN upper(r.event_type) END
         |    AS last_event_upper
         |FROM r JOIN g ON ${bucketSql("r.user_id")} = g.bucket
         |WHERE rn = 1""".stripMargin,
    // pre = latest-per-key over ALL events (the snapshot one generation
    // before the tombstones — forgotten users PRESENT, n_forget > 0);
    // post = the same minus tombstoned users (forgotten users ABSENT);
    // the modular fingerprint proves presence/absence row-exactly
    "q_forget_audit" -> {
      val poly = graft.engine.Dedup.idUtf8Sql(
        "CAST(user_id AS VARCHAR) || ':' || CAST(event_id AS VARCHAR)")
      val m = graft.engine.Dedup.IdMod
      s"""WITH l AS (SELECT user_id, event_id, row_number() OVER
         |    (PARTITION BY user_id ORDER BY ts DESC, event_id DESC)
         |      AS rn FROM events),
         |k AS (SELECT user_id, event_id FROM l WHERE rn = 1),
         |ph AS (SELECT 'pre' AS phase, user_id, event_id FROM k
         |  UNION ALL SELECT 'post' AS phase, user_id, event_id FROM k
         |    WHERE user_id % $ForgetMod <> 0)
         |SELECT phase, ${bucketSql("user_id")} AS bucket,
         |  count(*) AS n_users,
         |  CAST(sum(CASE WHEN user_id % $ForgetMod = 0 THEN 1 ELSE 0
         |    END) AS BIGINT) AS n_forget,
         |  CAST(sum(CAST($poly AS DECIMAL(38,0))) % $m AS BIGINT) AS fp
         |FROM ph GROUP BY phase, bucket""".stripMargin
    },
    "q_stream_quality" -> {
      import graft.engine.{Curation, TextOps}
      val stopList = TextOps.Stopwords.map(s => s"'$s'").mkString(", ")
      val enList =
        TextOps.LangMarkers.head._2.map(s => s"'$s'").mkString(", ")
      val qExpr =
        """round(least(CAST(n_tok AS DOUBLE) / 50, 1.0) *
          |    (1.0 - CAST(n_stop AS DOUBLE) / n_tok), 6)""".stripMargin
      s"""WITH scored AS (SELECT doc_id, source,
         |    len(${TextOps.segmentSql("text")}) AS n_tok,
         |    len(list_filter(${TextOps.segmentSql("text")},
         |      t -> t IN ($stopList))) AS n_stop,
         |    len(list_filter(${TextOps.segmentSql("text")},
         |      t -> t IN ($enList))) AS score_en
         |  FROM documents)
         |SELECT doc_id, source, CAST(n_tok AS BIGINT) AS n_tok,
         |  CAST(round(($qExpr) * 1000000) AS BIGINT) AS q_micro
         |FROM scored
         |WHERE CAST(round(($qExpr) * 1000000) AS BIGINT)
         |    >= ${(Curation.QualityFloor * 1000000L).toLong}
         |  AND n_tok BETWEEN ${Curation.MinTokens}
         |    AND ${Curation.MaxTokens}
         |  AND score_en >= 1""".stripMargin
    })
}
