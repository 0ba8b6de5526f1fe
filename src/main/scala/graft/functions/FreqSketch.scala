package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Misra–Gries frequency sketch as a native Catalyst aggregate.
  *
  * `graft_mg_candidates(key, k)` maintains at most `k` (key, counter)
  * pairs per aggregation buffer and returns the surviving keys. The
  * guarantee (Misra & Gries 1982; merge rule from Agarwal et al.,
  * "Mergeable Summaries", PODS 2012): after ingesting n rows through any
  * tree of partial aggregations and merges, every key with true frequency
  * > n/(k+1) is present in the result. So with a target threshold of
  * n/T, choosing k ≥ T makes the sketch output a guaranteed SUPERSET of
  * the true heavy hitters — false positives possible, false negatives
  * impossible — which is exactly what a two-pass exact heavy-hitter plan
  * needs (sketch → candidate set → exact count of candidates only).
  *
  * Why this shape at 100 TB: a naive `groupBy(key).count()` over a
  * high-cardinality key (every distinct n-gram of a corpus) shuffles the
  * FULL key universe. The sketch pass is a regular partial aggregation —
  * each map task keeps ≤ k counters regardless of input size, the final
  * merge sees (#partitions × k) entries — and the second pass shuffles
  * only rows whose key is among ≤ k candidates. Memory is O(k) per task
  * by construction, never O(distinct).
  *
  * Update rule per row: increment if present; insert if < k counters;
  * otherwise decrement ALL counters by 1 and drop zeros (the classic
  * k-counter generalization of Boyer–Moore majority). Merge rule: add
  * counters pointwise; if more than k survive, subtract the (k+1)-th
  * largest counter value from all and drop non-positives — this is what
  * makes the summary mergeable with the same error bound, so Spark can
  * combine partial buffers in any order.
  */
case class MisraGriesCandidates(
    child: Expression,
    kExpr: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[mutable.HashMap[String, Long]] {

  override def checkInputDataTypes(): TypeCheckResult =
    (child.dataType, kExpr.dataType) match {
      case (StringType, IntegerType) if kExpr.foldable =>
        val k = kExpr.eval().asInstanceOf[Int]
        if (k >= 1) TypeCheckResult.TypeCheckSuccess
        else TypeCheckResult.TypeCheckFailure(s"k must be >= 1, got $k")
      case (c, kt) => TypeCheckResult.TypeCheckFailure(
        s"graft_mg_candidates expects (string, foldable int), got ($c, $kt)")
    }

  private lazy val k: Int = kExpr.eval().asInstanceOf[Int]

  override def children: Seq[Expression] = Seq(child, kExpr)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_mg_candidates"

  override def createAggregationBuffer(): mutable.HashMap[String, Long] =
    mutable.HashMap.empty

  override def update(buffer: mutable.HashMap[String, Long],
                      input: InternalRow): mutable.HashMap[String, Long] = {
    val v = child.eval(input)
    if (v != null) {
      // UTF8String buffers are reused by the row iterator — materialize.
      val key = v.asInstanceOf[UTF8String].toString
      buffer.get(key) match {
        case Some(c) => buffer.update(key, c + 1)
        case None if buffer.size < k => buffer.update(key, 1L)
        case None =>
          // All k counters taken by other keys: decrement everything and
          // drop zeros (the incoming key's +1 and the global -1 cancel).
          // O(k) here, but amortized O(1): every decrement is paid for by
          // an earlier increment.
          buffer.mapValuesInPlace((_, c) => c - 1)
          buffer.filterInPlace((_, c) => c > 0)
      }
    }
    buffer
  }

  override def merge(buffer: mutable.HashMap[String, Long],
                     other: mutable.HashMap[String, Long]): mutable.HashMap[String, Long] = {
    other.foreach { case (key, c) =>
      buffer.update(key, buffer.getOrElse(key, 0L) + c)
    }
    if (buffer.size > k) {
      // Subtract the (k+1)-th largest counter from all, keep positives:
      // at most k survive and the summed-undercount error stays ≤ n/(k+1)
      // across arbitrary merge trees (Mergeable Summaries, §3.1).
      val vals = buffer.values.toArray
      java.util.Arrays.sort(vals)
      val dec = vals(vals.length - 1 - k)
      buffer.mapValuesInPlace((_, c) => c - dec)
      buffer.filterInPlace((_, c) => c > 0)
    }
    buffer
  }

  override def eval(buffer: mutable.HashMap[String, Long]): Any =
    new GenericArrayData(
      buffer.keysIterator.map(UTF8String.fromString).toArray[Any])

  override def serialize(buffer: mutable.HashMap[String, Long]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buffer.size)
    buffer.foreach { case (key, c) =>
      val b = key.getBytes("UTF-8")
      out.writeInt(b.length)
      out.write(b)
      out.writeLong(c)
    }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): mutable.HashMap[String, Long] = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val n = in.readInt()
    val buffer = mutable.HashMap.empty[String, Long]
    var i = 0
    while (i < n) {
      val len = in.readInt()
      val b = new Array[Byte](len)
      in.readFully(b)
      buffer.update(new String(b, "UTF-8"), in.readLong())
      i += 1
    }
    buffer
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): MisraGriesCandidates =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): MisraGriesCandidates =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): MisraGriesCandidates =
    copy(child = newChildren(0), kExpr = newChildren(1))
}

object FreqSketch {

  private val mgInfo = new ExpressionInfo(
    classOf[MisraGriesCandidates].getName, "graft_mg_candidates")

  private val mgBuilder: Seq[Expression] => Expression = {
    case Seq(child, kExpr) => MisraGriesCandidates(child, kExpr)
    case other => throw new IllegalArgumentException(
      s"graft_mg_candidates expects 2 arguments, got ${other.size}")
  }

  /** Idempotent runtime registration through [[SessionFunctions]]. */
  def register(spark: SparkSession): Unit =
    SessionFunctions.register(spark, "graft_mg_candidates" -> mgBuilder)

  /** `SparkSessionExtensions` hook for global cluster-wide loading. */
  def inject(extensions: SparkSessionExtensions): Unit =
    extensions.injectFunction(
      (FunctionIdentifier("graft_mg_candidates"), mgInfo, mgBuilder))
}
