package graft

import com.fasterxml.jackson.databind.annotation.JsonDeserialize

/** The standing scale-regression gate (VERDICT r14 #1): committed
  * per-query scaling exponents live in [[DefaultPath]] (checked in), and
  * every ScaleBench run re-measures its queries and FAILS (exit 3) when
  * an exponent drifts more than [[DriftTol]] above its committed value —
  * the alpha-ladder twin of the materialized-cost gate that caught a
  * real 8.7x pathology on its first round as a standing check.
  *
  * The artifact keys committed alphas by the ladder's scale list, so the
  * default 1,2,5,10 gate and the deep 1,10,50 ladders coexist; targeted
  * commit runs (ScaleBench with query args) MERGE into the existing
  * entry rather than truncating it.
  */
object ScaleGate {
  val DefaultPath = "SCALE_GATE.json"

  /** Allowed upward drift of a re-measured endpoint exponent before the
    * gate fails. 0.15 alpha at the 10x ladder is a 10^0.15 = 1.41x
    * endpoint-time growth — far above quiet-host jitter on the rows the
    * [[MinGateSeconds]] floor admits, far below the ~+1.0 a lost
    * blocking guard or an unpushed filter produces.
    */
  val DriftTol = 0.15

  /** Endpoint-seconds floor below which drift is not gated: sub-second
    * ladder endpoints are job-machinery noise where a 0.1 s wobble flips
    * the exponent. The floor hides no real regression — a query that
    * turns quadratic blows past 0.5 s at the 10x endpoint (a 0.1 s row
    * would read ~10 s), which the gate then fails.
    */
  val MinGateSeconds = 0.5

  /** Pure gate predicate (spec'd directly in ScaleGateSpec with a
    * planted quadratic): queries whose measured alpha exceeds committed
    * + [[DriftTol]] with an endpoint time at/above [[MinGateSeconds]],
    * sorted worst-first.
    */
  def offenders(committed: Map[String, Double],
      measured: Map[String, Double],
      tLast: Map[String, Double]): Seq[(String, Double, Double)] =
    measured.toSeq.flatMap { case (n, a) =>
      committed.get(n).collect {
        case c if a - c > DriftTol &&
            tLast.getOrElse(n, 0.0) >= MinGateSeconds => (n, a, c)
      }
    }.sortBy { case (_, a, c) => c - a }

  /** Noisy-host adjudication protocol (VERDICT r16 #2 — the manual
    * procedure BASELINE.md's round-16 adjudication ran by hand, now
    * standing): on suspected drift, re-measure ONLY the suspects up to
    * `rounds` more times with a FRESH 1x floor AND endpoint (the
    * round-16 false positives came from anomalously FAST 1x floors
    * inflating the exponent — an endpoint-only re-measure cannot clear
    * that class), keep each suspect's MINIMUM-alpha ladder across the
    * runs (host contention only ever inflates an endpoint relative to
    * the other, so the smallest observed exponent is the least
    * contaminated one), and confirm a drift only if it survives every
    * re-run. Early-exits the moment a re-run clears the whole suspect
    * set. `remeasure(names)` runs a fresh two-point ladder for the
    * named queries — injected so ScaleGateSpec drives the protocol with
    * synthetic ladders while ScaleBench wires the real one. Returns
    * (final per-query times with re-measured endpoints merged in,
    * confirmed offenders).
    */
  def adjudicate(committed: Map[String, Double],
      times0: Map[String, Map[Int, Double]],
      alphaOf: Map[Int, Double] => Double,
      remeasure: Seq[String] => Map[String, Map[Int, Double]],
      rounds: Int = 2)
      : (Map[String, Map[Int, Double]], Seq[(String, Double, Double)]) = {
    def offendersOf(t: Map[String, Map[Int, Double]]) =
      offenders(committed, t.view.mapValues(alphaOf).toMap,
        t.view.mapValues(m => m(m.keys.max)).toMap)
    var times = times0
    var confirmed = offendersOf(times)
    var k = 0
    while (confirmed.nonEmpty && k < rounds) {
      val again = remeasure(confirmed.map(_._1))
      times = times.map { case (n, t) =>
        n -> (again.get(n) match {
          // merge endpoints into the full ladder (mid-scale columns stay
          // reportable) only when the fresh run reads a LOWER exponent
          case Some(t2) if alphaOf(t2) < alphaOf(t) => t ++ t2
          case _ => t
        })
      }
      confirmed = offendersOf(times)
      k += 1
    }
    (times, confirmed)
  }

  private def ladderKey(scales: Seq[Int]): String = scales.mkString(",")

  /** One committed ladder: each query's alpha and its endpoint seconds. */
  final case class Ladder(
      @JsonDeserialize(contentAs = classOf[java.lang.Double])
      alphas: Map[String, Double] = Map.empty,
      @JsonDeserialize(contentAs = classOf[java.lang.Double])
      tLast: Map[String, Double] = Map.empty)

  /** Every committed ladder, keyed by its scale list; empty when the
    * file is absent or unparseable.
    */
  def readAll(path: String): Map[String, Ladder] =
    scala.util.Try(Json.mapper.readValue[Map[String, Ladder]](
      new java.io.File(path))).getOrElse(Map.empty)

  /** Committed alphas for one ladder; empty when the file or the
    * ladder's entry is absent (the caller warns — never silent).
    */
  def readCommitted(path: String, scales: Seq[Int]): Map[String, Double] =
    readAll(path).get(ladderKey(scales)).map(_.alphas).getOrElse(Map.empty)

  /** Commit (merge) a run's measured alphas for its ladder. Alphas are
    * rounded to 2 decimals (the reporting precision); `t_last` endpoint
    * seconds ride along as context for the [[MinGateSeconds]] floor.
    */
  def writeCommitted(path: String, scales: Seq[Int],
      alphas: Map[String, Double], tLast: Map[String, Double]): Unit = {
    val p = java.nio.file.Paths.get(path)
    val existing = readAll(path).map { case (lad, l) =>
      lad -> l.alphas.map { case (n, a) =>
        n -> (a, l.tLast.getOrElse(n, 0.0)) }
    }
    val merged = existing.getOrElse(ladderKey(scales), Map.empty) ++
      alphas.map { case (n, a) => n -> (a, tLast.getOrElse(n, 0.0)) }
    val all = existing + (ladderKey(scales) -> merged)
    def q(m: Map[String, (Double, Double)], pick: ((Double, Double)) => Double) =
      m.toSeq.sortBy(_._1)
        .map { case (k, v) => f""""$k":${pick(v)}%.2f""" }
        .mkString("{", ",", "}")
    val body = all.toSeq.sortBy(_._1).map { case (lad, m) =>
      s""""$lad":{"alphas":${q(m, _._1)},"t_last":${q(m, _._2)}}"""
    }.mkString("{\n", ",\n", "\n}")
    java.nio.file.Files.writeString(p, body + "\n")
    System.err.println(s"[scalegate] committed ${alphas.size} alphas " +
      s"for ladder ${ladderKey(scales)} -> $path")
  }
}
