package graft

import graft.profiler._

/** Golden metric-name parity (SURVEY.md §5.2.4): these exact strings are
  * the reference's observable contract (metric `name` column + prefixed
  * metadata keys). A rename here silently breaks Glue-parameter-key
  * compatibility — this spec makes it loud. */
class MetricNamesSpec extends SparkSuite {
  import MetricNames._

  test("metric name constants match the reference parity table") {
    assert(Size == "Size")
    assert(Completeness == "Completeness")
    assert(Maximum == "Maximum")
    assert(Minimum == "Minimum")
    assert(Mean == "Mean")
    assert(Sum == "Sum")
    assert(StandardDeviation == "StandardDeviation")
    assert(ApproxCountDistinct == "ApproxCountDistinct")
    assert(Distinctness == "Distinctness")
    assert(MaxLength == "MaxLength")
    assert(MinLength == "MinLength")
    assert(CountDistinct == "CountDistinct")
    assert(Entropy == "Entropy")
    assert(HistogramBins == "Histogram.bins")
    assert(UniqueValueRatio == "UniqueValueRatio")
    assert(Uniqueness == "Uniqueness")
    assert(NullBucket == "NullValue")
    assert(approxQuantile(0.1) == "ApproxQuantiles-0.1")
    assert(approxQuantile(1.0) == "ApproxQuantiles-1.0")
    assert(histogramAbs("x") == "Histogram.abs.x")
    assert(histogramRatio("x") == "Histogram.ratio.x")
  }

  test("full battery emits exactly the expected names for a (numeric, text) table") {
    import spark.implicits._
    val d = Seq((1.0, "a"), (2.0, "b")).toDF("x", "s")
    val names = Profiler
      .metrics(d, ProfilerConfig(compExp = true), Profiler.allFamilies)
      .map(m => (m.instance, m.name)).toSet
    val qs = (1 to 10).map(_ / 10.0)
    val expectedX = Set(
      "Completeness", "ApproxCountDistinct", "Distinctness", "Minimum",
      "Maximum", "Mean", "Sum", "StandardDeviation") ++
      qs.map(p => s"ApproxQuantiles-$p") ++ qs.map(p => s"QuantilesExact-$p")
    val expectedS = Set(
      "Completeness", "ApproxCountDistinct", "Distinctness", "MaxLength",
      "MinLength", "CountDistinct", "Entropy", "UniqueValueRatio",
      "Uniqueness", "Histogram.bins",
      "Histogram.abs.a", "Histogram.ratio.a",
      "Histogram.abs.b", "Histogram.ratio.b")
    assert(names == expectedX.map(("x", _)) ++ expectedS.map(("s", _)) + (("*", "Size")))
  }

  test("prefixed keys append exactly two underscores once") {
    assert(ProfilerConfig(statsPrefix = "DQP").prefixedKey("Size") == "DQP__Size")
  }
}
