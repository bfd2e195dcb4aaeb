package graft

import scala.util.Random

import graft.profiler._

/** Cross-metric invariants (SURVEY.md §5.2.2) over seeded random small
  * frames — property-style testing without the scalatest-scalacheck bridge
  * (not in the offline dependency set). Few samples, many invariants per
  * sample: Spark jobs are the cost. */
class PropertySpec extends SparkSuite {
  private val cfg = ProfilerConfig(compExp = true)

  private def sample(rng: Random): Seq[(Option[Double], Option[String])] = {
    val n = 1 + rng.nextInt(20)
    Seq.fill(n)((
      if (rng.nextDouble() < 0.2) None else Some(rng.nextDouble() * 2000 - 1000),
      if (rng.nextDouble() < 0.2) None
      else Some(Seq("a", "b", "c", "dd", "eee")(rng.nextInt(5)))))
  }

  test("invariants hold for 10 seeded random frames") {
    val rng = new Random(42)
    for (_ <- 1 to 10) {
      val data = sample(rng)
      import spark.implicits._
      val df = data.map { case (x, s) =>
        (x.map(Double.box).orNull, s.orNull)
      }.toDF("x", "s")
      val m = Profiler.metrics(df, cfg, Profiler.allFamilies)
      def get(i: String, n: String): Option[Double] =
        m.collectFirst { case MetricRow(_, `i`, `n`, v) => v }

      val n = get("*", "Size").get
      assert(n == data.size.toDouble)

      for (c <- Seq("x", "s"); comp <- get(c, "Completeness"))
        assert(comp >= 0.0 && comp <= 1.0)

      for (c <- Seq("x", "s"); d <- get(c, "Distinctness"))
        assert(d > 0.0 && d <= 1.0)

      (get("x", "Minimum"), get("x", "Mean"), get("x", "Maximum")) match {
        case (Some(mn), Some(me), Some(mx)) =>
          assert(mn <= me + 1e-6 && me <= mx + 1e-6)
        case _ => ()
      }

      for (q <- (1 to 10).map(_ / 10.0); v <- get("x", s"QuantilesExact-$q");
           mn <- get("x", "Minimum"); mx <- get("x", "Maximum"))
        assert(v >= mn - 1e-9 && v <= mx + 1e-9)

      (get("s", "Uniqueness"), get("s", "UniqueValueRatio")) match {
        case (Some(u), Some(uvr)) =>
          assert(u >= 0 && uvr <= 1 && u <= uvr + 1e-12) // |U|/nn <= |U|/|V|
        case _ => ()
      }

      for (cd <- get("s", "CountDistinct"); h <- get("s", "Entropy"))
        assert(h >= -1e-12 && h <= math.log(cd) + 1e-12)

      for (cd <- get("s", "CountDistinct")) {
        val nnS = data.count(_._2.isDefined).toDouble
        assert(cd <= nnS && nnS <= n)
      }

      val abs = m.filter(r => r.instance == "s" && r.name.startsWith("Histogram.abs."))
      if (abs.nonEmpty) assert(abs.map(_.value).sum <= n + 1e-9)
      val ratios = m.filter(r => r.instance == "s" && r.name.startsWith("Histogram.ratio."))
      if (ratios.nonEmpty) assert(ratios.map(_.value).sum <= 1.0 + 1e-9)

      (get("x", "Sum"), get("x", "Mean")) match {
        case (Some(sm), Some(me)) =>
          val nnX = data.count(_._1.isDefined).toDouble
          assert(math.abs(sm - me * nnX) < 1e-3)
        case _ => ()
      }
    }
  }

  test("winnowing guarantee: docs sharing a substring of length >= k+w-1 share a fingerprint") {
    // Schleimer et al.'s core theorem, over seeded random corpora: every
    // match of length at least k + w - 1 is caught by at least one shared
    // selected fingerprint (k = 8, w = 4 -> threshold 11 chars).
    val rng = new Random(271)
    def randStr(n: Int): String =
      Seq.fill(n)(('a' + rng.nextInt(26)).toChar).mkString
    import spark.implicits._
    for (round <- 1 to 5) {
      val shared = randStr(11 + rng.nextInt(30))
      val docs = Seq(
        (1L, randStr(rng.nextInt(40)) + shared + randStr(rng.nextInt(40))),
        (2L, randStr(rng.nextInt(40)) + shared + randStr(rng.nextInt(40))))
        .toDF("doc_id", "text")
      val fp = graft.operators.Dedup.winnowFingerprints(docs, "doc_id", "text")
        .collect().map(r => (r.getLong(0), r.getLong(2))).groupBy(_._1)
        .view.mapValues(_.map(_._2).toSet).toMap
      assert((fp(1L) & fp(2L)).nonEmpty,
        s"round $round: shared '$shared' produced no common fingerprint")
    }
  }
}
