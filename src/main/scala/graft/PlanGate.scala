package graft

/** The standing plan-SHAPE gate (VERDICT r15 #1) — third standing gate
  * beside SCALE_GATE (time exponents) and BENCH_MATERIALIZED (per-row
  * cost): committed normalized plan fingerprints for EVERY
  * `SparkEntry.queries` entry live in [[DefaultPath]] (checked in,
  * keyed by sf section like ScaleGate's ladders), and every PlanGate
  * run re-plans the full surface in sorted order and FAILS when a
  * query's fingerprint drifts from its committed shape:
  *
  *   - exit 3: fingerprint DRIFT (an exchange appeared, a broadcast
  *     demoted to sort-merge, an Expand resurrected, ...)
  *   - exit 4: COVERAGE gap (a query with no committed fingerprint —
  *     run with --commit after adjudicating the new shape)
  *
  * Refresh protocol (mirrors SCALE_GATE): `--commit` MERGES the run's
  * fingerprints into the artifact's sf section; targeted runs
  * (query names as trailing args) merge only those entries. A drifted
  * fingerprint is never auto-accepted — committing a new shape is a
  * reviewed artifact change in git, with the diff showing exactly
  * which operators moved.
  *
  * Determinism contract: fingerprints are computed at PLANNING time
  * (AQE initial plan) under Verify's session config, in sorted query
  * order — session-history-dependent nodes (cache-backed scans) are
  * excluded from the fingerprint whitelist, and all sampled literals /
  * ids / partition counts are normalized away by construction.
  * PlanSpec keeps its bespoke semantic pins (join keys, salt reach,
  * pushed filters) as the layer ABOVE this multiset gate.
  */
object PlanGate {
  val DefaultPath = "PLAN_GATE.json"

  /** Pure drift predicate, spec-pinned: queries whose measured
    * fingerprint differs from the committed one, with the per-operator
    * delta rendered for the report.
    */
  def offenders(committed: Map[String, Map[String, Int]],
      measured: Map[String, Map[String, Int]])
      : Seq[(String, String)] =
    measured.toSeq.sortBy(_._1).flatMap { case (name, fp) =>
      committed.get(name) match {
        case Some(c) if c != fp =>
          val ops = (c.keySet ++ fp.keySet).toSeq.sorted
          val delta = ops.flatMap { op =>
            val (was, is) = (c.getOrElse(op, 0), fp.getOrElse(op, 0))
            if (was != is) Some(s"$op $was->$is") else None
          }.mkString(", ")
          Some(name -> delta)
        case _ => None
      }
    }

  /** Queries present in the run but absent from the committed section
    * (coverage gap — the gate is only standing if complete).
    */
  def uncovered(committed: Map[String, Map[String, Int]],
      measured: Map[String, Map[String, Int]]): Seq[String] =
    (measured.keySet -- committed.keySet).toSeq.sorted

  /** Every committed section: sf name -> query -> operator counts;
    * empty when the file is absent or unparseable.
    */
  def readAll(path: String): Map[String, Map[String, Map[String, Int]]] =
    scala.util.Try(Json.mapper.readValue[Map[String,
      Map[String, Map[String, Int]]]](new java.io.File(path)))
      .getOrElse(Map.empty)

  def readCommitted(path: String, sf: String)
      : Map[String, Map[String, Int]] =
    readAll(path).getOrElse(sf, Map.empty)

  /** Merge a run's fingerprints into the artifact's sf section — one
    * line per query for reviewable git diffs.
    */
  def writeCommitted(path: String, sf: String,
      fps: Map[String, Map[String, Int]]): Unit = {
    val existing = readAll(path)
    val merged = existing.getOrElse(sf, Map.empty) ++ fps
    val all = existing + (sf -> merged)
    val body = all.toSeq.sortBy(_._1).map { case (s, qs) =>
      val lines = qs.toSeq.sortBy(_._1).map { case (q, fp) =>
        s"""  "$q": ${PlanFingerprint.toJson(fp)}"""
      }.mkString(",\n")
      s""""$s": {\n$lines\n}"""
    }.mkString("{\n", ",\n", "\n}")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(path), body + "\n")
    System.err.println(s"[plangate] committed ${fps.size} fingerprints " +
      s"for sf '$sf' -> $path")
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01"))
    val commit = args.contains("--commit")
    val only = args.drop(1).filterNot(_ == "--commit").toSet
    val sfName = new java.io.File(sfDir).getName
    val spark = GraftSession.getOrCreate(GraftSession.cpus(4))
    spark.sparkContext.setLogLevel("WARN")
    val measured = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.isEmpty || only(n) }
      .map { case (name, fn) =>
        val fp =
          try PlanFingerprint.fingerprint(fn(spark, sfDir))
          catch { case e: Throwable =>
            System.err.println(s"[plangate] $name failed to plan: " +
              e.getMessage)
            // a query that cannot even plan must never read as a clean
            // fingerprint — the error marker always drifts
            Map("!error" -> 1)
          }
        name -> fp
      }.toMap
    spark.stop()
    if (commit) {
      writeCommitted(DefaultPath, sfName, measured)
      return
    }
    val committed = readCommitted(DefaultPath, sfName)
    if (committed.isEmpty) {
      System.err.println(s"[plangate] no committed section for sf " +
        s"'$sfName' in $DefaultPath — run with --commit first")
      sys.exit(4)
    }
    val gaps = uncovered(committed, measured)
    val drifted = offenders(committed, measured)
    drifted.foreach { case (n, delta) =>
      System.err.println(s"[plangate] DRIFT $n: $delta")
    }
    gaps.foreach(n =>
      System.err.println(s"[plangate] UNCOVERED $n (no committed " +
        "fingerprint — adjudicate, then --commit)"))
    println(s"""{"metric":"plan_gate","sf":"$sfName",""" +
      s""""queries":${measured.size},"drift":${drifted.size},""" +
      s""""uncovered":${gaps.size}}""")
    if (drifted.nonEmpty) sys.exit(3)
    if (gaps.nonEmpty && only.isEmpty) sys.exit(4)
  }
}
