package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Mergeable Misra-Gries heavy-hitters sketch — the bounded-memory
  * frequent-items summary (Misra & Gries 1982; mergeable form and error
  * proof: Agarwal et al., "Mergeable Summaries", PODS 2012). At 100 TB an
  * exact vocabulary frequency table costs a full token shuffle whose
  * reduce side is the distinct vocabulary; an MG(k) summary is k counters
  * per partition, merges associatively in the combiner like any algebraic
  * aggregate, and guarantees, for n processed tokens:
  *
  *   - est(t) ≤ true(t)                      (never overcounts)
  *   - true(t) − est(t) ≤ n/(k+1)            (bounded undercount)
  *   - every t with true(t) > n/(k+1) is in the summary  (no missed
  *     heavy hitter)
  *
  * Which counters survive NEAR the threshold depends on partitioning, so
  * the estimates are declared approximate (no hash oracle — like
  * ApproxCountDistinct); the three guarantees above are EXACT and are
  * pinned driver-visible by `heavy_hitters_audit` against the exact
  * frequency table.
  *
  * Implemented as a native [[TypedImperativeAggregate]] (ObjectHashAggregate
  * with the live summary as the buffer, serialization only at shuffle
  * boundaries — the plan shape of Spark's `kll_sketch_agg_double`). Not
  * Spark's `approx_top_k`: its DataSketches frequent-items estimates may
  * overcount, and the guarantees above need Misra–Gries's never-overcount
  * summary. The compress step subtracts the
  * (k+1)-th largest count from every counter and drops the non-positive
  * (for a single overflow insert that is the classic decrement; for a
  * merge of two summaries it is the mergeable-summaries step), removing
  * ≥ (k+1)·v weight per call — the invariant the error bound rests on. */
object HeavyHitters {

  /** Mutable MG(k) buffer: counter map + processed-token count. */
  final class MGSummary(val k: Int) {
    val counters = new java.util.HashMap[String, Long]()
    var n: Long = 0L

    private def compress(): Unit = {
      if (counters.size <= k) return
      // single-insert overflow (size = k+1): the (k+1)-th largest IS the
      // minimum — one O(k) scan instead of an O(k log k) sort on the hot
      // update path; the sort only runs for merges (size up to 2k)
      val v =
        if (counters.size == k + 1) {
          var m = Long.MaxValue
          val it0 = counters.values().iterator()
          while (it0.hasNext) { val c = it0.next(); if (c < m) m = c }
          m
        } else {
          val vs = new Array[Long](counters.size)
          var i = 0
          val it0 = counters.values().iterator()
          while (it0.hasNext) { vs(i) = it0.next(); i += 1 }
          java.util.Arrays.sort(vs)
          vs(vs.length - 1 - k) // (k+1)-th largest
        }
      val it = counters.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        val nv = e.getValue - v
        if (nv <= 0) it.remove() else e.setValue(nv)
      }
    }

    def add(t: String): Unit = {
      n += 1
      val cur = counters.get(t)
      counters.put(t, cur + 1) // HashMap.get misses → 0L (unboxed default)
      compress()
    }

    def mergeWith(o: MGSummary): Unit = {
      n += o.n
      val it = o.counters.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        counters.merge(e.getKey, e.getValue, (a, b) => a + b)
      }
      compress()
    }

    def serialize(): Array[Byte] = {
      val bos = new ByteArrayOutputStream()
      val out = new DataOutputStream(bos)
      out.writeInt(k); out.writeLong(n); out.writeInt(counters.size)
      val it = counters.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        out.writeUTF(e.getKey); out.writeLong(e.getValue)
      }
      out.flush(); bos.toByteArray
    }
  }

  object MGSummary {
    def deserialize(bytes: Array[Byte]): MGSummary = {
      val in = new DataInputStream(new ByteArrayInputStream(bytes))
      val s = new MGSummary(in.readInt())
      s.n = in.readLong()
      var left = in.readInt()
      while (left > 0) {
        s.counters.put(in.readUTF(), in.readLong()); left -= 1
      }
      s
    }
  }

  /** `string` tokens → struct(n: processed count, items: token → est). */
  case class MisraGriesAgg(
      child: Expression,
      k: Int,
      mutableAggBufferOffset: Int = 0,
      inputAggBufferOffset: Int = 0)
      extends TypedImperativeAggregate[MGSummary] with UnaryLike[Expression] {
    override def checkInputDataTypes(): TypeCheckResult =
      if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires string input, got ${child.dataType.catalogString}")
    override def createAggregationBuffer(): MGSummary = new MGSummary(k)
    override def update(b: MGSummary, input: InternalRow): MGSummary = {
      val v = child.eval(input)
      if (v != null) b.add(v.toString)
      b
    }
    override def merge(b: MGSummary, o: MGSummary): MGSummary = {
      b.mergeWith(o); b
    }
    override def eval(b: MGSummary): Any = {
      val size = b.counters.size
      val keys = new Array[Any](size)
      val vals = new Array[Any](size)
      var i = 0
      val it = b.counters.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        keys(i) = UTF8String.fromString(e.getKey)
        vals(i) = e.getValue
        i += 1
      }
      InternalRow(b.n,
        new ArrayBasedMapData(new GenericArrayData(keys), new GenericArrayData(vals)))
    }
    override def serialize(b: MGSummary): Array[Byte] = b.serialize()
    override def deserialize(storage: Array[Byte]): MGSummary =
      MGSummary.deserialize(storage)
    override def dataType: DataType = StructType(Seq(
      StructField("n", LongType, nullable = false),
      StructField("items", MapType(StringType, LongType), nullable = false)))
    override def nullable: Boolean = false
    override def withNewMutableAggBufferOffset(n: Int): MisraGriesAgg =
      copy(mutableAggBufferOffset = n)
    override def withNewInputAggBufferOffset(n: Int): MisraGriesAgg =
      copy(inputAggBufferOffset = n)
    override protected def withNewChildInternal(newChild: Expression): MisraGriesAgg =
      copy(child = newChild)
    override def prettyName: String = "graft_mg_agg"
  }

  def register(spark: SparkSession): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_mg_agg",
      exprs => {
        val k = exprs(1) match {
          case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, IntegerType) => v
          case other => throw new IllegalArgumentException(
            s"graft_mg_agg k must be an int literal, got $other")
        }
        MisraGriesAgg(exprs(0), k).toAggregateExpression()
      }, "built-in")

  /** Heavy-hitter estimates over a string column: one row per surviving
    * counter `(token, est, n)` (requires [[register]]). */
  def topK(df: DataFrame, tokenCol: Column, k: Int): DataFrame = {
    require(k >= 1, "k must be positive")
    df.select(tokenCol.as("t"))
      .agg(call_function("graft_mg_agg", col("t"), lit(k)).as("mg"))
      .select(col("mg.n").as("n"), explode(col("mg.items")).as(Seq("token", "est")))
      .select(col("token"), col("est"), col("n"))
  }
}
