package graft.functions

import java.io.{ByteArrayOutputStream, DataInputStream, DataOutputStream}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Mutable Misra–Gries summary: at most `k − 1` counters plus the
  * processed-row count. The classic deterministic heavy-hitters sketch —
  * `est(x)` underestimates the true frequency by at most
  * `(n − Σ counters) / k`, so any item with true frequency > n/k is
  * guaranteed to survive. Mergeable (Agarwal et al., "Mergeable
  * Summaries", PODS 2012): summing two summaries' counters and then
  * subtracting the k-th largest count from every counter (dropping
  * non-positives) preserves the same error bound, which is what makes
  * the sketch safe as a partial aggregate — each executor sketches its
  * partitions and the final merge never sees raw rows.
  */
final class MGSummary(val k: Int) {
  val counts = new mutable.HashMap[String, Long]
  var n: Long = 0L

  def add(s: String): Unit = {
    n += 1
    counts.get(s) match {
      case Some(c) => counts.update(s, c + 1)
      case None =>
        if (counts.size < k - 1) counts.update(s, 1L)
        else {
          // decrement-all: O(k) on a miss with full counters; k is a
          // small constant (sketch width), so update stays O(1) amortized
          val dead = mutable.ArrayBuffer.empty[String]
          counts.mapValuesInPlace { (key, c) =>
            if (c == 1L) { dead += key; 0L } else c - 1L
          }
          dead.foreach(counts.remove)
        }
    }
  }

  def mergeIn(other: MGSummary): Unit = {
    n += other.n
    other.counts.foreach { case (s, c) =>
      counts.update(s, counts.getOrElse(s, 0L) + c)
    }
    if (counts.size > k - 1) {
      // subtract the k-th largest count from every counter: at most k−1
      // counters stay positive and the MG undercount bound is preserved
      val kth = counts.values.toArray.sortWith(_ > _).apply(k - 1)
      val dead = mutable.ArrayBuffer.empty[String]
      counts.mapValuesInPlace { (key, c) =>
        val nc = c - kth
        if (nc <= 0L) dead += key
        nc
      }
      dead.foreach(counts.remove)
    }
  }

  /** Maximum undercount of any estimate: `(n − Σ counters) / k`. */
  def maxError: Long = (n - counts.valuesIterator.sum) / k
}

object MGSummary {

  /** Wire format shared by the aggregate's partial buffers and the
    * streaming monitor's keyed state: k, n, then (len, utf8, count) per
    * counter. The summary IS (k, n, counters) — nothing else — so this
    * round-trips the full sketch state.
    */
  def toBytes(buffer: MGSummary): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buffer.k)
    out.writeLong(buffer.n)
    out.writeInt(buffer.counts.size)
    buffer.counts.foreach { case (s, c) =>
      val b = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      out.writeInt(b.length)
      out.write(b)
      out.writeLong(c)
    }
    out.flush()
    bos.toByteArray
  }

  def fromBytes(bytes: Array[Byte]): MGSummary = {
    val in = new DataInputStream(new java.io.ByteArrayInputStream(bytes))
    val s = new MGSummary(in.readInt())
    s.n = in.readLong()
    var remaining = in.readInt()
    while (remaining > 0) {
      val b = new Array[Byte](in.readInt())
      in.readFully(b)
      s.counts.update(new String(b, java.nio.charset.StandardCharsets.UTF_8), in.readLong())
      remaining -= 1
    }
    s
  }
}

/** `freq_items(expr, k)` — native heavy-hitters aggregate over a string
  * column, built on [[TypedImperativeAggregate]] (the extension class
  * Spark's own `percentile_approx`/`count_min_sketch` use: an opaque
  * JVM buffer carried through the partial/final aggregate as binary,
  * so the map-side combine ships ≤ k counters per partition, never
  * values). Returns `array<struct<item string, est bigint, err bigint>>`
  * sorted by (est DESC, item ASC): `est ≤ true ≤ est + err` and every
  * item with true frequency > n/k is present.
  *
  * Engine-specific output (the decrement schedule depends on partition
  * arrival order), so this is a non-keyed capability like the HLL/GK
  * sketch rows: the GUARANTEES, not the bytes, are the contract —
  * spec-gated in FreqItemsSpec against exact counts under adversarial
  * repartitionings. At 100 TB: one combinable aggregate, O(k) state per
  * group, no shuffle of raw values — the per-shard heavy-hitter audit
  * (dominant domains, hot tokens, skewed join keys) at sketch cost.
  */
case class MisraGries(
    child: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[MGSummary] {

  require(k >= 2 && k <= 65536, s"freq_items width k must be in [2, 65536], got $k")

  override def children: Seq[Expression] = Seq(child)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): MisraGries =
    copy(child = newChildren.head)

  override def nullable: Boolean = false

  // fail at ANALYSIS, not execution: without this a non-string child
  // passes resolution and dies executor-side in update()'s UTF8String
  // cast (r14 ADVICE) — the standard checkInputDataTypes contract
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"freq_items requires a STRING value column, got ${child.dataType.sql}")

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("item", StringType, nullable = false),
    StructField("est", LongType, nullable = false),
    StructField("err", LongType, nullable = false))), containsNull = false)

  override def createAggregationBuffer(): MGSummary = new MGSummary(k)

  override def update(buffer: MGSummary, input: InternalRow): MGSummary = {
    val v = child.eval(input)
    if (v != null) buffer.add(v.asInstanceOf[UTF8String].toString)
    buffer
  }

  override def merge(buffer: MGSummary, other: MGSummary): MGSummary = {
    buffer.mergeIn(other)
    buffer
  }

  override def eval(buffer: MGSummary): Any = {
    val err = buffer.maxError
    val rows = buffer.counts.toArray
      .sortWith((a, b) => a._2 > b._2 || (a._2 == b._2 && a._1 < b._1))
      .map { case (s, c) =>
        InternalRow(UTF8String.fromString(s), c, err)
      }
    new GenericArrayData(rows.asInstanceOf[Array[Any]])
  }

  override def serialize(buffer: MGSummary): Array[Byte] =
    MGSummary.toBytes(buffer)

  override def deserialize(bytes: Array[Byte]): MGSummary =
    MGSummary.fromBytes(bytes)

  override def withNewMutableAggBufferOffset(newOffset: Int): MisraGries =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): MisraGries =
    copy(inputAggBufferOffset = newOffset)

  override def prettyName: String = "freq_items"
}

object MisraGries {

  /** `freq_items(col, k)`: k must be a foldable integer literal — the
    * sketch width is plan-time state, not a per-row value. */
  val builder: Seq[Expression] => Expression = { exprs =>
    if (exprs.length != 2)
      throw FunctionArity.wrongNumArgs("freq_items", 2, exprs.length)
    val k = exprs(1) match {
      case e if e.foldable &&
          (e.dataType == IntegerType || e.dataType == LongType ||
            e.dataType == ShortType || e.dataType == ByteType) =>
        val v = e.eval() // a foldable NULL (e.g. CAST(NULL AS INT)) folds to null
        if (v == null)
          throw new IllegalArgumentException(
            "freq_items width must be a non-NULL integer literal")
        v.toString.toInt
      case other =>
        throw new IllegalArgumentException(
          s"freq_items width must be an integer literal, got: ${other.sql}")
    }
    MisraGries(exprs(0), k)
  }

  /** Idempotent SQL registration, the dot_d pattern: `freq_items(s, k)`
    * becomes usable in `expr`/`spark.sql`. */
  def register(spark: SparkSession): Unit =
    FunctionRegistration.ensure(spark, "freq_items", classOf[MisraGries].getName, builder)
}
