package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit, pmod}

import graft.{GraftSession, SparkEntry}
import graft.engine.SessionMemo
import graft.streaming.VersionedStore
import graft.streaming.VersionedStore.StorePredicate

/** Benchmark harness: one workload, timed from outside the engine.
  *
  * Reaches the engine only through `GraftSession.builder`,
  * `SparkEntry.queries` / `oracleSql` and the public functions of
  * `VersionedStore`; between passes it applies the same reset ScaleBench
  * does (`SessionMemo.evictSession` and `catalog.clearCache`), so every
  * timed pass pays what a fresh session pays.
  *
  * Usage: `Harness <workload> <dataDir> <outDir> <seconds> <trace 0|1>
  * [check]`. Writes `records.jsonl` (one JSON object per setup, op, store
  * call, pass, job and stream batch) and `oracle_sql.json` to `outDir`;
  * `perfbench/run.py` turns them into metrics and checks every result.
  * With `check`, it instead writes each oracle-covered op's full result
  * to `outDir/check/<op>` as parquet.
  */
object Harness {
  /** Set-ups per run; `setup_s` is their median. */
  val Setups = 3
  /** Untimed passes before timing starts (JIT, parquet footers). */
  val WarmPasses = 1
  /** Timed passes a run always makes, whatever `--seconds` says. */
  val MinPasses = 2

  final case class Op(module: String, name: String)

  private def ops(module: String, names: String*): Seq[Op] =
    names.map(Op(module, _))

  /** The op order is fixed: it decides which op pays for a memo build
    * that later ops share.
    */
  val workloads: Map[String, Seq[Op]] = Map(
    "notebook" -> (
      ops("RelOps", "q_agg_multi") ++
      ops("Reshape", "q_pivot_dummies") ++
      ops("Pipeline", "q_basetable_star") ++
      ops("SqlEntry", "q_sql_pricing_summary") ++
      ops("MlSuite", "q_lr_confusion") ++
      ops("TextOps", "q_text_quality") ++
      ops("Dedup", "q_dedup_simhash") ++
      ops("Similarity", "q_sim_cosine_topk")),
    "store" -> ops("StreamingQueries", "q_stream_dedup"))

  private var t0Nanos = 0L
  private var t0Millis = 0L
  /** Wall clock in epoch milliseconds with sub-millisecond digits. */
  def nowMs: Double = t0Millis + (System.nanoTime() - t0Nanos) / 1e6

  def emit(fields: (String, Any)*): Unit =
    Trace.records.add(Trace.obj(fields: _*))

  def main(args: Array[String]): Unit = {
    t0Nanos = System.nanoTime()
    t0Millis = System.currentTimeMillis()
    val jvmStartMs = java.lang.management.ManagementFactory
      .getRuntimeMXBean.getStartTime.toDouble
    val Array(workload, dataDir, outDir, secondsArg, traceArg) = args.take(5)
    val check = args.lift(5).contains("check")
    val trace = traceArg == "1"
    val plan = workloads.getOrElse(workload,
      throw new IllegalArgumentException(s"unknown workload $workload"))
    val cores = Runtime.getRuntime.availableProcessors()
    val tmp = s"$outDir/tmp"
    Files.createDirectories(Paths.get(tmp))
    emit("kind" -> "run", "workload" -> workload, "cores" -> cores)

    def newSession(): SparkSession = {
      val b = GraftSession.builder(cores)
        .config("spark.local.dir", tmp)
        .config("spark.hadoop.hadoop.tmp.dir", tmp)
        .config("spark.sql.warehouse.dir", s"$outDir/warehouse")
      val s = (if (trace) b
        .config("spark.extraListeners", classOf[JobListener].getName)
        .config("spark.sql.streaming.streamingQueryListeners",
          classOf[StreamListener].getName)
      else b).getOrCreate()
      s.sparkContext.setLogLevel("ERROR")
      s
    }

    // set-up: session build plus the warm-up graft.Bench does, repeated;
    // the first one is timed from JVM start
    var spark: SparkSession = null
    for (i <- 0 until Setups) {
      if (spark != null) spark.stop()
      val start = if (i == 0) jvmStartMs else nowMs
      val b0 = nowMs
      spark = newSession()
      val b1 = nowMs
      warm(spark, dataDir)
      emit("kind" -> "setup", "i" -> i, "setup_s" -> (nowMs - start) / 1e3,
        "boot_s" -> (b1 - b0) / 1e3)
    }

    val oracle = SparkEntry.oracleSql
    val queries = SparkEntry.queries
    val names = plan.map(_.name).toSet
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), oracle
      .filter { case (k, _) => names(k) }
      .map { case (k, v) => Trace.str(k) + ":" + Trace.str(v) }
      .mkString("{", ",", "}"))

    if (check) {
      plan.filter(op => oracle.contains(op.name)).foreach { op =>
        try queries(op.name)(spark, dataDir).coalesce(1).write
          .mode("overwrite").parquet(s"$outDir/check/${op.name}")
        catch { case e: Throwable =>
          System.err.println(s"[perfbench] ${op.name} failed: $e") }
      }
    } else {
      val store = if (workload == "store")
        Some(StorePlan.load(s"$dataDir/store")) else None
      val deadline = System.nanoTime() + (secondsArg.toDouble * 1e9).toLong
      var pass = 0
      while (pass < WarmPasses + MinPasses ||
          System.nanoTime() < deadline) {
        val timed = pass >= WarmPasses
        // a traced run alternates traced and untraced passes, so the
        // tracing overhead is measured inside the run
        val traced = trace && timed && (pass - WarmPasses) % 2 == 0
        val pid = s"p$pass"
        if (traced) Trace.tracedPasses.add(pid)
        SessionMemo.evictSession(spark)
        spark.catalog.clearCache()
        val start = nowMs
        store.foreach(new StorePass(spark, _, s"$tmp/store-$pid", pid).run())
        plan.zipWithIndex.foreach { case (op, i) =>
          runOp(spark, queries, dataDir, pid, i, op)
        }
        emit("kind" -> "pass", "id" -> pid, "timed" -> timed,
          "traced" -> traced, "start" -> start, "end" -> nowMs)
        pass += 1
      }
    }

    // heap the run still holds once the engine's caches are released
    SessionMemo.evictSession(spark)
    spark.catalog.clearCache()
    System.gc(); System.gc()
    val heap = java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed
    emit("kind" -> "heap", "retained_heap_mb" -> heap / 1048576.0)
    // stop drains the listener bus, so every job record is in by now
    spark.stop()
    Files.write(Paths.get(s"$outDir/records.jsonl"),
      Trace.records.asScala.toSeq.asJava)
  }

  /** graft.Bench's parquet warm-up: one aggregate over a fixture table.
    * Its estimator warm-up is left to the untimed warm pass, which runs
    * every op of the workload.
    */
  private def warm(spark: SparkSession, dataDir: String): Unit =
    spark.read.parquet(s"$dataDir/region.parquet")
      .groupBy("r_name").count().count(): Unit

  private def tag(spark: SparkSession, op: String, phase: String): Unit = {
    spark.sparkContext.setLocalProperty(Trace.OpKey, op)
    spark.sparkContext.setLocalProperty(Trace.PhaseKey, phase)
  }

  /** One query op, split into its three parts: the builder call, forcing
    * the physical plan, and the count action.
    */
  private def runOp(spark: SparkSession,
      queries: Map[String, (SparkSession, String) => DataFrame],
      dataDir: String, pid: String, i: Int, op: Op): Unit = {
    val id = s"$pid.$i.${op.name}"
    val t0 = nowMs
    var t1, t2 = Double.NaN
    var count = -1L
    var err: String = null
    try {
      tag(spark, id, "builder")
      val df = queries(op.name)(spark, dataDir)
      t1 = nowMs
      tag(spark, id, "plan")
      df.queryExecution.executedPlan
      t2 = nowMs
      tag(spark, id, "exec")
      count = df.count()
    } catch { case e: Throwable => err = e.toString }
    finally tag(spark, null, null)
    val t3 = nowMs
    emit("kind" -> "op", "id" -> id, "pass" -> pid, "module" -> op.module,
      "name" -> op.name, "start" -> t0, "builder_end" -> t1,
      "plan_end" -> t2, "end" -> t3, "count" -> count, "error" -> err)
  }

  /** The store workload's seeded inputs: commit batches and read plan. */
  final case class StorePlan(dir: String, batches: Seq[(Long, Double, Int)],
      cdfFrom: Int, deleteBelow: Double, vacuumKeep: Int)

  object StorePlan {
    def load(dir: String): StorePlan = {
      val m = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(new java.io.File(s"$dir/plan.json"))
      StorePlan(dir, m.get("batches").elements().asScala.map { b =>
        (b.get("lookup").asLong, b.get("where").asDouble,
          b.get("as_of").asInt)
      }.toSeq, m.get("cdf_from").asInt, m.get("delete_below").asDouble,
        m.get("vacuum_keep").asInt)
    }
  }

  /** One pass of direct `VersionedStore` calls on a fresh store root:
    * each commit followed by a lookup, a predicate read and an as-of read,
    * then a change feed, a delete, a compaction and a vacuum.
    */
  final class StorePass(spark: SparkSession, p: StorePlan, root: String,
      pid: String) {
    private var seq = 0

    private def call[T](kind: String, args: String)(body: => T)
        (describe: T => Seq[(String, Any)]): Option[T] = {
      val id = s"$pid.s$seq.$kind"
      seq += 1
      val t0 = nowMs
      tag(spark, id, kind)
      val v = try Right(body) catch { case e: Throwable => Left(e.toString) }
      finally tag(spark, null, null)
      val t1 = nowMs
      emit(Seq("kind" -> "store", "id" -> id, "pass" -> pid,
        "call" -> kind, "args" -> args, "start" -> t0, "end" -> t1,
        "error" -> v.left.toOption.orNull) ++
        v.toOption.map(describe).getOrElse(Nil): _*)
      v.toOption
    }

    /** Untimed check read: the live row count at generation `g`. */
    private def verify(after: String, g: Int): Unit = {
      val n = try VersionedStore.readAsOf(spark, root, g).count()
        catch { case _: Throwable => -1L }
      emit("kind" -> "verify", "pass" -> pid, "after" -> after,
        "gen" -> g, "count" -> n)
    }

    private def batch(b: Int): DataFrame =
      spark.read.parquet(f"${p.dir}/batch-$b%03d.parquet")
        .withColumn("bucket",
          pmod(col("user_id"), lit(VersionedStore.Buckets.toLong)))

    def run(): Unit = {
      var latest = -1
      p.batches.zipWithIndex.foreach { case ((key, thr, asOf), b) =>
        call("commit", s"$b") {
          VersionedStore.commitBatch(batch(b), root)
        }(g => Seq("gen" -> g, "user_bytes" ->
          Files.size(Paths.get(f"${p.dir}/batch-$b%03d.parquet"))))
          .foreach(latest = _)
        call("lookup", s"$latest,$key") {
          VersionedStore.lookupKey(spark, root, latest, key)
            .select("last_event_id").collect().map(_.getLong(0))
        }(r => Seq("count" -> r.length,
          "value" -> r.headOption.getOrElse(-1L)))
        call("read_where", s"$latest,$thr") {
          VersionedStore.readWhere(spark, root, latest,
            StorePredicate.AtLeast("last_value", thr)).count()
        }(n => Seq("count" -> n))
        call("read_as_of", s"$asOf") {
          VersionedStore.readAsOf(spark, root, asOf).count()
        }(n => Seq("count" -> n))
      }
      call("cdf", s"${p.cdfFrom},$latest") {
        VersionedStore.changesBetweenGens(spark, root, p.cdfFrom, latest,
          "forget").count()
      }(n => Seq("count" -> n))
      call("delete", s"${p.deleteBelow}") {
        VersionedStore.deleteWhere(spark, root,
          StorePredicate.AtMost("last_value", p.deleteBelow))
      }(g => Seq("gen" -> g)).foreach(verify("delete", _))
      call("compact", "") {
        VersionedStore.compact(spark, root)
      }(g => Seq("gen" -> g)).foreach { gc =>
        call("vacuum", s"${gc - p.vacuumKeep}") {
          VersionedStore.vacuum(root, gc - p.vacuumKeep)
        }(r => Seq("dirs" -> r._1, "manifests" -> r._2))
        verify("vacuum", gc)
        emit("kind" -> "live", "pass" -> pid, "bytes" -> dataBytes(root))
      }
    }

    private def dataBytes(root: String): Long = {
      val s = Files.walk(Paths.get(root, "data"))
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .filter(_.getFileName.toString.endsWith(".parquet"))
        .map(Files.size).sum
      finally s.close()
    }
  }
}
