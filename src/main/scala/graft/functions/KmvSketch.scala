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
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType}

/** K-minimum-values distinct sketch as a native Catalyst aggregate.
  *
  * `graft_kmv_mins(hash, k)` maintains the k SMALLEST DISTINCT long
  * hash values seen by an aggregation buffer and returns them sorted
  * ascending. The KMV estimator (Bar-Yossef et al., RANDOM 2002; the
  * mergeable form per Agarwal et al., "Mergeable Summaries"):
  * with hashes uniform on [0, 2^56), distinct ≈ (k−1)·2^56 / h_k.
  *
  * Two properties make this the oracle-friendly approximate-distinct
  * (unlike HLL, q18): the k smallest distinct values of a multiset are
  * an ORDER-FREE set — any partitioning, any merge tree, same result —
  * and everything downstream of the hash is integer arithmetic, so a
  * SQL restatement (distinct + rank ≤ k) must match bit for bit.
  *
  * Why this shape at 100 TB: an exact `countDistinct` shuffles the full
  * distinct-hash universe; the sketch pass is a regular partial
  * aggregation holding ≤ k longs per map task, and the final merge sees
  * #partitions × k values. Memory O(k), shuffle O(k) per group.
  *
  * Update: insert if below the current k-th min (TreeSet dedups);
  * trim to k. Merge: set union, trim to k — associative and
  * commutative by construction (KmvSpec pins equality with the
  * relational k-min under every partitioning).
  */
case class KmvMins(
    child: Expression,
    kExpr: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[mutable.TreeSet[Long]] {

  override def checkInputDataTypes(): TypeCheckResult =
    (child.dataType, kExpr.dataType) match {
      case (LongType, IntegerType) if kExpr.foldable =>
        val k = kExpr.eval().asInstanceOf[Int]
        if (k >= 1) TypeCheckResult.TypeCheckSuccess
        else TypeCheckResult.TypeCheckFailure(s"k must be >= 1, got $k")
      case (c, kt) => TypeCheckResult.TypeCheckFailure(
        s"graft_kmv_mins expects (bigint, foldable int), got ($c, $kt)")
    }

  private lazy val k: Int = kExpr.eval().asInstanceOf[Int]

  override def children: Seq[Expression] = Seq(child, kExpr)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_kmv_mins"

  override def createAggregationBuffer(): mutable.TreeSet[Long] =
    mutable.TreeSet.empty

  override def update(buffer: mutable.TreeSet[Long],
                      input: InternalRow): mutable.TreeSet[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val h = v.asInstanceOf[Long]
      if (buffer.size < k) buffer.add(h)
      else if (h < buffer.max && !buffer.contains(h)) {
        buffer.add(h)
        buffer.remove(buffer.max)
      }
    }
    buffer
  }

  override def merge(buffer: mutable.TreeSet[Long],
                     other: mutable.TreeSet[Long]): mutable.TreeSet[Long] = {
    other.foreach(buffer.add)
    while (buffer.size > k) buffer.remove(buffer.max)
    buffer
  }

  override def eval(buffer: mutable.TreeSet[Long]): Any =
    new GenericArrayData(buffer.toArray[Long].map(_.asInstanceOf[Any]))

  override def serialize(buffer: mutable.TreeSet[Long]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buffer.size)
    buffer.foreach(out.writeLong)
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): mutable.TreeSet[Long] = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val n = in.readInt()
    val buffer = mutable.TreeSet.empty[Long]
    var i = 0
    while (i < n) { buffer.add(in.readLong()); i += 1 }
    buffer
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): KmvMins =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): KmvMins =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): KmvMins =
    copy(child = newChildren(0), kExpr = newChildren(1))
}

object KmvSketch {

  private val kmvInfo = new ExpressionInfo(
    classOf[KmvMins].getName, "graft_kmv_mins")

  private val kmvBuilder: Seq[Expression] => Expression = {
    case Seq(child, kExpr) => KmvMins(child, kExpr)
    case other => throw new IllegalArgumentException(
      s"graft_kmv_mins expects 2 arguments, got ${other.size}")
  }

  /** Idempotent runtime registration through [[SessionFunctions]]. */
  def register(spark: SparkSession): Unit =
    SessionFunctions.register(spark, "graft_kmv_mins" -> kmvBuilder)

  /** `SparkSessionExtensions` hook for global cluster-wide loading. */
  def inject(extensions: SparkSessionExtensions): Unit =
    extensions.injectFunction(
      (FunctionIdentifier("graft_kmv_mins"), kmvInfo, kmvBuilder))
}
