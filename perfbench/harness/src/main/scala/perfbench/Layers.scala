package perfbench

/** Maps a Spark call site to the engine module (layer) that issued it.
  *
  * A call site is a stack dump, innermost frame first, as Spark records it in
  * `StageInfo.details` and in a SQL execution's `details`. The layer is the
  * innermost frame whose class belongs to a mapped module; engine frames of
  * unmapped classes (query-key wiring, lambdas in `SparkEntry*`) are skipped,
  * so a job issued by `ScanMetrics` from inside a key still counts as `scan`.
  */
object Layers {

  /** Layers a job or stage can be attributed to, plus the `other` bucket. */
  val StageLayers: Seq[String] =
    Seq("catalog", "scan", "freq", "quantiles", "ops", "sink", "runner")
  val Other = "other"

  private val byClass: Map[String, String] = Map(
    "graft.profiler.TableCatalog" -> "catalog",
    "graft.profiler.ParquetDirCatalog" -> "catalog",
    "graft.profiler.SparkSessionCatalog" -> "catalog",
    "graft.profiler.ScanMetrics" -> "scan",
    // Profiler.metrics drives the scan pass; its own jobs are scan jobs
    "graft.profiler.Profiler" -> "scan",
    "graft.profiler.FreqMetrics" -> "freq",
    "graft.profiler.ExactQuantiles" -> "quantiles",
    "graft.profiler.RobustStats" -> "quantiles",
    "graft.profiler.Sinks" -> "sink",
    "graft.profiler.Runner" -> "runner")

  private val byPackage: Seq[(String, String)] =
    Seq("graft.operators." -> "ops", "graft.functions." -> "ops")

  /** The layer of one stack frame such as
    * `graft.profiler.ScanMetrics$.$anonfun$compute$1(ScanMetrics.scala:310)`. */
  def ofFrame(frame: String): Option[String] = {
    val method = frame.trim.stripPrefix("at ").takeWhile(_ != '(')
    val owner = method.take(math.max(0, method.lastIndexOf('.')))
    val cls = owner.takeWhile(_ != '$')
    byClass.get(cls).orElse(byPackage.collectFirst { case (p, l) if cls.startsWith(p) => l })
  }

  /** The layer of a whole call site: its innermost mapped frame. */
  def ofCallSite(details: String): Option[String] =
    Option(details).iterator.flatMap(_.linesIterator).flatMap(ofFrame).nextOption()

  private val NamePattern = "[A-Za-z0-9][A-Za-z0-9_.-]{0,63}".r

  /** The benchmark's metric-name grammar. */
  def validMetricName(name: String): Boolean = NamePattern.matches(name)
}
