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
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StructField, StructType}

/** Bottom-k QUANTILE sketch as a native Catalyst aggregate — the fourth
  * member of the sketch quartet (q57 Misra–Gries = WHICH items are
  * frequent, q121 KMV = HOW MANY distinct, q136 CMS = HOW frequent,
  * this = WHAT DISTRIBUTION).
  *
  * `graft_btk_pairs(hash, value, k)` maintains the k lexicographically
  * SMALLEST DISTINCT (hash, value) pairs seen by an aggregation buffer and
  * returns them sorted ascending. With hashes uniform on [0, 2^56) and
  * keyed by a unique row id, the retained pairs are a BOTTOM-K SAMPLE — a
  * uniform without-replacement sample of the group (Cohen & Kaplan,
  * "Summarizing data using bottom-k sketches", PODC 2007; mergeable per
  * Agarwal et al., "Mergeable Summaries"): any partitioning, any merge
  * tree, the same k pairs. Rank-picking the value-sorted sample estimates
  * any quantile with the classic order-statistics error O(1/√k) per
  * quantile — and unlike KLL (whose compactions are randomized and
  * merge-order-dependent) the result is a DETERMINISTIC function of the
  * data, so a SQL restatement (DISTINCT pairs, rank by (hash, value),
  * keep k) must match bit for bit: the property that makes an
  * approximate-quantile operator oracle-checkable at all.
  *
  * Why this shape at 100 TB: an exact quantile needs a per-group sort (or
  * the √n two-level rank q152/q76 use — two passes); the sketch pass is a
  * regular partial aggregation holding ≤ k pairs per map task, merging
  * #partitions × k pairs — one pass, O(k) memory, O(k) shuffle per group,
  * and mergeable across days/shards the way production telemetry needs.
  *
  * Update: insert if below the current max pair (TreeSet dedups); trim to
  * k. Merge: set union, trim — associative and commutative by
  * construction (QuantileSketchSpec pins sketch ≡ relational bottom-k
  * under every partitioning).
  */
case class BtkPairs(
    hashExpr: Expression,
    valueExpr: Expression,
    kExpr: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[mutable.TreeSet[(Long, Long)]] {

  override def checkInputDataTypes(): TypeCheckResult =
    (hashExpr.dataType, valueExpr.dataType, kExpr.dataType) match {
      case (LongType, LongType, IntegerType) if kExpr.foldable =>
        val k = kExpr.eval().asInstanceOf[Int]
        if (k >= 1) TypeCheckResult.TypeCheckSuccess
        else TypeCheckResult.TypeCheckFailure(s"k must be >= 1, got $k")
      case (h, v, kt) => TypeCheckResult.TypeCheckFailure(
        s"graft_btk_pairs expects (bigint, bigint, foldable int), got ($h, $v, $kt)")
    }

  private lazy val k: Int = kExpr.eval().asInstanceOf[Int]

  override def children: Seq[Expression] = Seq(hashExpr, valueExpr, kExpr)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("h", LongType, nullable = false),
      StructField("v", LongType, nullable = false))),
    containsNull = false)
  override def prettyName: String = "graft_btk_pairs"

  override def createAggregationBuffer(): mutable.TreeSet[(Long, Long)] =
    mutable.TreeSet.empty

  override def update(buffer: mutable.TreeSet[(Long, Long)],
                      input: InternalRow): mutable.TreeSet[(Long, Long)] = {
    val h = hashExpr.eval(input)
    val v = valueExpr.eval(input)
    if (h != null && v != null) {
      val pair = (h.asInstanceOf[Long], v.asInstanceOf[Long])
      if (buffer.size < k) buffer.add(pair)
      else if (Ordering[(Long, Long)].lt(pair, buffer.max)) {
        buffer.add(pair)
        if (buffer.size > k) buffer.remove(buffer.max)
      }
    }
    buffer
  }

  override def merge(buffer: mutable.TreeSet[(Long, Long)],
                     other: mutable.TreeSet[(Long, Long)]): mutable.TreeSet[(Long, Long)] = {
    other.foreach(buffer.add)
    while (buffer.size > k) buffer.remove(buffer.max)
    buffer
  }

  override def eval(buffer: mutable.TreeSet[(Long, Long)]): Any =
    new GenericArrayData(buffer.toArray.map { case (h, v) =>
      InternalRow(h, v)
    }.asInstanceOf[Array[Any]])

  override def serialize(buffer: mutable.TreeSet[(Long, Long)]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buffer.size)
    buffer.foreach { case (h, v) => out.writeLong(h); out.writeLong(v) }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): mutable.TreeSet[(Long, Long)] = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val n = in.readInt()
    val buffer = mutable.TreeSet.empty[(Long, Long)]
    var i = 0
    while (i < n) { buffer.add((in.readLong(), in.readLong())); i += 1 }
    buffer
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): BtkPairs =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): BtkPairs =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): BtkPairs =
    copy(hashExpr = newChildren(0), valueExpr = newChildren(1),
      kExpr = newChildren(2))
}

object QuantileSketch {

  private val btkInfo = new ExpressionInfo(
    classOf[BtkPairs].getName, "graft_btk_pairs")

  private val btkBuilder: Seq[Expression] => Expression = {
    case Seq(h, v, kExpr) => BtkPairs(h, v, kExpr)
    case other => throw new IllegalArgumentException(
      s"graft_btk_pairs expects 3 arguments, got ${other.size}")
  }

  /** Idempotent runtime registration through [[SessionFunctions]]. */
  def register(spark: SparkSession): Unit =
    SessionFunctions.register(spark, "graft_btk_pairs" -> btkBuilder)

  /** `SparkSessionExtensions` hook for global cluster-wide loading. */
  def inject(extensions: SparkSessionExtensions): Unit =
    extensions.injectFunction(
      (FunctionIdentifier("graft_btk_pairs"), btkInfo, btkBuilder))
}
