package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The standing alpha-drift gate (VERDICT r14 #1): the pure predicate's
  * contract, the commit/read round-trip, and the mandated gate-red demo —
  * a PLANTED QUADRATIC operator measured through the real ladder math
  * must trip the gate while its linear sibling stays green.
  */
class ScaleGateSpec extends AnyFunSuite with SparkSpec {

  test("offenders fires on drift above tolerance, sorted worst-first") {
    val committed = Map("a" -> 0.50, "b" -> 0.90, "c" -> 0.30)
    val measured = Map("a" -> 0.70, "b" -> 1.80, "c" -> 0.40)
    val tLast = Map("a" -> 2.0, "b" -> 5.0, "c" -> 3.0)
    val off = ScaleGate.offenders(committed, measured, tLast)
    // b drifts +0.90, a drifts +0.20; c's +0.10 is inside DriftTol
    assert(off.map(_._1) == Seq("b", "a"))
  }

  test("sub-floor endpoints are not gated; at-floor ones are") {
    val committed = Map("fast" -> 0.10, "slow" -> 0.10)
    val measured = Map("fast" -> 0.90, "slow" -> 0.90)
    val off = ScaleGate.offenders(committed, measured,
      Map("fast" -> (ScaleGate.MinGateSeconds - 0.01),
        "slow" -> ScaleGate.MinGateSeconds))
    assert(off.map(_._1) == Seq("slow"))
  }

  test("unknown queries and exact-tolerance drift pass") {
    val off = ScaleGate.offenders(
      Map("a" -> 0.50),
      Map("a" -> (0.50 + ScaleGate.DriftTol * 0.99), "new_query" -> 2.0),
      Map("a" -> 9.0, "new_query" -> 9.0))
    assert(off.isEmpty)
  }

  test("commit/read round-trip merges per ladder and per query") {
    val dir = suiteTempDir("scale_gate")
    val p = s"$dir/SCALE_GATE.json"
    ScaleGate.writeCommitted(p, Seq(1, 2, 5, 10),
      Map("a" -> 0.31, "b" -> 0.97), Map("a" -> 1.2, "b" -> 4.1))
    ScaleGate.writeCommitted(p, Seq(1, 10, 50),
      Map("b" -> 0.88), Map("b" -> 21.0))
    // a targeted re-commit updates one query, keeps the rest
    ScaleGate.writeCommitted(p, Seq(1, 2, 5, 10),
      Map("a" -> 0.28), Map("a" -> 1.1))
    assert(ScaleGate.readCommitted(p, Seq(1, 2, 5, 10)) ==
      Map("a" -> 0.28, "b" -> 0.97))
    assert(ScaleGate.readCommitted(p, Seq(1, 10, 50)) == Map("b" -> 0.88))
    assert(ScaleGate.readCommitted(p, Seq(1, 20)).isEmpty)
    java.nio.file.Files.delete(java.nio.file.Paths.get(p))
  }

  test("gate-red demo: a planted quadratic trips the gate, " +
      "its linear sibling does not") {
    // The mandated red demo runs REAL Spark jobs through the real
    // endpoint-exponent math (ScaleBench.alphaOf): an all-pairs
    // self-join (the exact shape every blocking guard in Dedup exists
    // to prevent) at corpus sizes n and 4n grows pair volume 16x, so
    // its measured alpha sits near 2 while the linear scan's sits near
    // 1. Steady state = min of two timed runs per point (contention
    // only inflates), the ladder's own defense.
    def corpus(n: Int) =
      spark.range(n.toLong).select(col("id"),
        (col("id") * 2654435761L % 1000003L).as("h"))
    def timeIt(job: => Long): Double = {
      def once(): Double = {
        val t0 = System.nanoTime(); job; (System.nanoTime() - t0) / 1e9
      }
      once(); math.min(once(), once())
    }
    def quadratic(n: Int): Long = {
      val c = corpus(n)
      // per-pair multiply+mod keeps pair work well above the ~0.2 s of
      // fixed job machinery at BOTH ladder points (the first cut of
      // this demo used a 2 ns/pair predicate and measured alpha 0.48 —
      // overhead-dominated, exactly the small-point bias ScaleBench's
      // scaladoc warns about)
      c.as("x").crossJoin(c.as("y"))
        .filter(pmod(col("x.h") * col("y.h") + col("x.id"),
          lit(1000003L)) =!= 7L).count()
    }
    def linear(n: Int): Long =
      corpus(n).filter(pmod(col("h") * col("h") + col("id"),
        lit(1000003L)) =!= 7L).count()
    // 225M pairs at 1x vs 2.0B at 3x: codegen evaluates the pair
    // predicate at ~1.4 ns/pair on this host, so these sizes put pair
    // work at ~0.3 s/2.9 s against ~0.27 s of fixed machinery — the 3x
    // endpoint clears the MinGateSeconds floor and the exponent
    // (~1.5) clears committed+tolerance with margin
    val n1 = 15000; val n3 = 45000
    val tq = Map(1 -> timeIt(quadratic(n1)), 3 -> timeIt(quadratic(n3)))
    val tl = Map(1 -> timeIt(linear(n1 * 50)), 3 -> timeIt(linear(n3 * 50)))
    val aq = ScaleBench.alphaOf(tq)
    val al = ScaleBench.alphaOf(tl)
    info(f"planted quadratic alpha=$aq%.2f (t=$tq), linear alpha=$al%.2f")
    // committed claims both are linear (1.0) — the quadratic must fail
    val committed = Map("planted_quadratic" -> 1.0, "planted_linear" -> 1.0)
    val off = ScaleGate.offenders(committed,
      Map("planted_quadratic" -> aq, "planted_linear" -> al),
      Map("planted_quadratic" -> math.max(tq(3), ScaleGate.MinGateSeconds),
        "planted_linear" -> math.max(tl(3), ScaleGate.MinGateSeconds)))
    assert(off.map(_._1) == Seq("planted_quadratic"),
      s"quadratic alpha $aq should exceed 1.0+${ScaleGate.DriftTol}, " +
        s"linear alpha $al should not")
  }

  test("noisy-host adjudication: a fast-1x-floor false positive clears " +
      "on re-measure; a genuine quadratic survives both re-runs") {
    // the round-16 class: "noisy" was measured with an anomalously FAST
    // 1x floor (0.4 s vs the true ~0.8 s), inflating the exponent to
    // ~1.04 against a committed 0.30; "quad" is a genuine quadratic
    val committed = Map("noisy" -> 0.30, "quad" -> 1.00)
    val first = Map(
      "noisy" -> Map(1 -> 0.4, 10 -> 4.4),
      "quad" -> Map(1 -> 0.5, 10 -> 50.0))
    var calls = 0
    val remeasure = (names: Seq[String]) => {
      calls += 1
      // the re-run measures a fresh 1x floor AND endpoint: the noise
      // victim reads quiet (alpha ~ 0.27 < committed + tol); the
      // quadratic reproduces exactly
      names.map {
        case "noisy" => "noisy" -> Map(1 -> 0.8, 10 -> 1.5)
        case n => n -> Map(1 -> 0.5, 10 -> 50.0)
      }.toMap
    }
    val (times, confirmed) = ScaleGate.adjudicate(committed, first,
      ScaleBench.alphaOf, remeasure)
    assert(confirmed.map(_._1) === Seq("quad"),
      "only the reproducing drift survives adjudication")
    // min-alpha ladder kept for the cleared suspect
    assert(ScaleBench.alphaOf(times("noisy"))
      < 0.30 + ScaleGate.DriftTol)
    assert(calls === 2, "the surviving drift forces both re-runs")
    // a drift-free run never invokes the re-measure at all
    val (_, none) = ScaleGate.adjudicate(committed,
      Map("noisy" -> Map(1 -> 0.8, 10 -> 1.5),
        "quad" -> Map(1 -> 0.5, 10 -> 5.0)),
      ScaleBench.alphaOf,
      _ => fail("re-measure must not run without suspects"))
    assert(none.isEmpty)
    // and a suspect set that clears on the FIRST re-run early-exits
    var calls2 = 0
    val (_, cleared) = ScaleGate.adjudicate(committed,
      Map("noisy" -> Map(1 -> 0.4, 10 -> 4.4)),
      ScaleBench.alphaOf,
      names => { calls2 += 1; names.map(n =>
        n -> Map(1 -> 0.8, 10 -> 1.5)).toMap })
    assert(cleared.isEmpty && calls2 === 1)
  }

  test("re-measure context: memo-warming siblings run FIRST, are " +
      "deduplicated, and every context query is a real ladder query") {
    val ext = ScaleBench.withContext(Seq("q_lsh_recall", "q_dedup_minhash"))
    // context precedes the suspect; a suspect that IS context for
    // another appears once
    assert(ext === Seq("q_dedup_minhash", "q_dedup_ngram_jaccard",
      "q_lsh_recall"))
    // a context-free query passes through untouched
    assert(ScaleBench.withContext(Seq("q_event_window"))
      === Seq("q_event_window"))
    // the map never references a query the ladder cannot run
    val known = ScaleBench.QueryNames.toSet
    val bad = ScaleBench.RemeasureContext.flatMap { case (k, vs) =>
      (k +: vs).filterNot(known)
    }
    assert(bad.isEmpty, s"unknown queries in RemeasureContext: $bad")
  }

  test("committed SCALE_GATE.json covers every ScaleBench query") {
    // the standing gate is only standing if the artifact is complete:
    // every ladder query (plus the two fixed-delta probe rows) must
    // carry a committed alpha, so a new ScaleBench query without a
    // commit run fails HERE, not silently-vacuously at gate time
    // resolve relative to the working directory (Test/fork runs in the
    // project root) — an absolute checkout path breaks any other
    // workspace and could silently read a stale file (advice-r15)
    val committed = ScaleGate.readCommitted(
      ScaleGate.DefaultPath, Seq(1, 2, 5, 10))
    val expected = ScaleBench.QueryNames.toSet +
      "probe_fixed_delta" + "substr_probe_fixed_delta"
    val missing = expected -- committed.keySet
    assert(missing.isEmpty,
      s"queries without committed alphas: ${missing.toSeq.sorted}")
  }
}
