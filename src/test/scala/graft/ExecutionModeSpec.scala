package graft

import java.sql.Date

import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.{SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.TestSpark.{bits, testdata}
import graft.profiler._

/** The size-gated execution mode of `Profiler.metrics`: a table under the
  * threshold runs its battery in a child session with code generation off.
  * `spark.sql.codegen.factoryMode` is an internal Spark conf, so these
  * tests pin the mode from both sides: a Spark upgrade that drops or
  * renames either conf turns the "no compile" / "no whole-stage" checks
  * red instead of silently profiling codegen'd. */
class ExecutionModeSpec extends SparkSuite with AdaptiveSparkPlanHelper {
  private val cfg = ProfilerConfig(compExp = true, profileUnsupportedTypes = true)

  private def lineitem(sf: String): DataFrame =
    spark.read.parquet(s"$testdata/$sf/lineitem.parquet")

  /** ±0.0, NaN, nulls, a decimal, a date and a boolean (cast to text by
    * `profileUnsupportedTypes`) in one in-memory table. */
  private def edgeTable: DataFrame = {
    val schema = StructType(Seq(
      StructField("d", DoubleType), StructField("i", IntegerType),
      StructField("dec", DecimalType(12, 2)), StructField("day", DateType),
      StructField("b", BooleanType), StructField("s", StringType)))
    val rows = Seq(
      Row(0.0, 1, BigDecimal("10.25"), Date.valueOf("2024-01-01"), true, "a"),
      Row(-0.0, null, BigDecimal("-3.10"), null, false, "b"),
      Row(Double.NaN, 3, null, Date.valueOf("2024-02-29"), null, null),
      Row(null, 4, BigDecimal("0.00"), Date.valueOf("1999-12-31"), true, "a"),
      Row(1.5, -7, BigDecimal("9999999999.99"), Date.valueOf("2024-01-01"), false, ""),
      Row(-2.25, 0, BigDecimal("0.01"), null, null, "NullValue"))
    spark.createDataFrame(rows.asJava, schema)
  }

  test("the gated battery equals the codegen'd battery bit for bit") {
    for ((what, df) <- Seq("lineitem sf0.001" -> lineitem("sf0.001"), "edge table" -> edgeTable)) {
      assert(Profiler.interpreted(df), s"$what should run interpreted")
      val gated = Profiler.metrics(df, cfg, Profiler.allFamilies)
      val codegen = Profiler.battery(df, cfg, Profiler.allFamilies)
      assert(gated.nonEmpty)
      assert(bits(gated) == bits(codegen), what)
    }
  }

  test("the gate: sf0.001 lineitem runs interpreted, sf0.01 lineitem codegen'd") {
    val small = lineitem("sf0.001")
    val large = lineitem("sf0.01")
    assert(Profiler.interpreted(small))
    assert(large.queryExecution.optimizedPlan.stats.sizeInBytes == BigInt(1042463))
    assert(!Profiler.interpreted(large))
  }

  private def hasWholeStage(plan: SparkPlan): Boolean =
    find(plan)(_.isInstanceOf[WholeStageCodegenExec]).isDefined

  /** Runs the Plain pass of `df` and returns (Janino compiles, whether the
    * executed plan holds a whole-stage-codegen'd operator). */
  private def plainPass(df: DataFrame): (Long, Boolean) = {
    val slots = ScanMetrics.slots(df.schema, ProfilerConfig(),
      Set("size", "completeness", "minimum", "maximum"))
    assert(slots.forall(_.kind == AggKind.Plain))
    val agg = df.agg(slots.head.expr, slots.tail.map(_.expr): _*)
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    agg.collect()
    (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before,
      hasWholeStage(agg.queryExecution.executedPlan))
  }

  test("the child session compiles no expression code for a new schema; the caller's does") {
    // a shape no other test profiles, so neither side finds it cached
    val n = 23
    val df = spark.range(0, 50, 1, 1).select(
      (0 until n).map(k => (col("id") * (k + 1) % (k + 7)).cast(ShortType).as(s"c$k")) :+
        col("id").cast(StringType).as("t"): _*)
    val (childCompiles, childWholeStage) = plainPass(Profiler.interpretedSession(df))
    // at most the partial aggregate's row joiner, which Spark generates
    // outside the factory mode; a child with only whole-stage codegen off
    // compiled 10 classes for such a pass
    assert(childCompiles <= 1, s"the interpreted child compiled $childCompiles classes")
    assert(!childWholeStage, "the interpreted child planned a whole-stage-codegen'd operator")
    // control: the same pass on the caller's session does compile, so the
    // shape was new and the count above is not a cache hit
    val (parentCompiles, parentWholeStage) = plainPass(df)
    assert(parentCompiles > 0)
    assert(parentWholeStage)
  }

  test("the child sees the caller's runtime confs") {
    val key = "spark.sql.ansi.enabled"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    try {
      val child = Profiler.interpretedSession(lineitem("sf0.001")).sparkSession
      assert(child ne spark)
      assert(child.conf.get(key) == "false")
      assert(child.conf.get("spark.sql.codegen.factoryMode") == "NO_CODEGEN")
      assert(child.conf.get("spark.sql.codegen.wholeStage") == "false")
      // non-ANSI semantics: a malformed cast reads null, not an error
      assert(child.sql("select cast('x' as int)").head().isNullAt(0))
    } finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("a frame over the caller's temp view profiles") {
    import spark.implicits._
    Seq((1L, "x"), (2L, null), (3L, "y")).toDF("id", "s").createOrReplaceTempView("exec_mode_v")
    try {
      val df = spark.table("exec_mode_v")
      assert(Profiler.interpreted(df))
      val rows = Profiler.metrics(df, cfg, Profiler.referenceBattery)
      assert(rows.contains(MetricRow("Dataset", "*", MetricNames.Size, 3.0)))
      assert(bits(rows) == bits(Profiler.battery(df, cfg, Profiler.referenceBattery)))
    } finally spark.catalog.dropTempView("exec_mode_v")
  }

  test("a frame the caller persisted stays a cache hit in the child") {
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    val df = lineitem("sf0.001").select("l_orderkey", "l_quantity").persist()
    try {
      val child = Profiler.interpretedSession(df)
      assert(child.queryExecution.withCachedData.exists(_.isInstanceOf[InMemoryRelation]))
    } finally { df.unpersist(); () }
  }

  test("a listener on the caller sees the child's queries; the caller's confs stay") {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    val factoryMode = "spark.sql.codegen.factoryMode"
    val before = (spark.conf.getOption(factoryMode), spark.conf.get("spark.sql.codegen.wholeStage"))
    val childQueries = new java.util.concurrent.atomic.AtomicInteger
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (qe.sparkSession ne spark) childQueries.incrementAndGet()
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val df = lineitem("sf0.001")
      assert(Profiler.interpreted(df))
      Profiler.metrics(df, cfg, Profiler.referenceBattery)
      // listener events arrive asynchronously
      val deadline = System.currentTimeMillis() + 30000
      while (childQueries.get == 0 && System.currentTimeMillis() < deadline) Thread.sleep(20)
      assert(childQueries.get > 0, "the caller's listener saw none of the child's queries")
    } finally spark.listenerManager.unregister(listener)
    assert((spark.conf.getOption(factoryMode), spark.conf.get("spark.sql.codegen.wholeStage")) == before)
  }

  test("a gated battery runs one Plain+Sketch pass and a four-job frequency plan") {
    val sc = spark.sparkContext
    val key = "graft.test.jobs"
    val df = edgeTable
    assert(Profiler.interpreted(df))
    assert(ScanMetrics.spreadTarget(df) == 0, "a spread would add a checkpoint job")
    val jobs = new JobTags(sc, key).of {
      Profiler.metrics(df, cfg, Profiler.referenceBattery)
    }
    // Plain+Sketch: 2 (partial aggregate exchange, result); Distinct: 3
    // (Expand's two aggregation exchanges, result); frequency: 4 (the stack
    // exchange, read by both branches, one exchange per branch, result)
    assert(jobs.size == 2 + 3 + 4, jobs)
  }

  test("jobs the child submits carry the caller's local properties") {
    val sc = spark.sparkContext
    val key = "graft.test.mode"
    sc.setLocalProperty(key, "p")
    try {
      val df = lineitem("sf0.001")
      assert(Profiler.interpreted(df))
      val tags = new JobTags(sc, key).of {
        Profiler.metrics(df, cfg, Profiler.referenceBattery)
      }
      assert(tags.nonEmpty && tags.forall(_ == "p"), tags)
    } finally sc.setLocalProperty(key, null)
  }
}
