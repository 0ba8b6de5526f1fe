package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType}

/** Count-min sketch as a native Catalyst aggregate — the point-frequency
  * sibling of the KMV distinct sketch (q121) and the Misra–Gries
  * heavy-hitter sketch (q57): MG answers "which items are frequent",
  * CMS answers "how frequent is THIS item" for any item, with a
  * one-sided (over-count only) error of at most εN, ε = e/w
  * (Cormode & Muthukrishnan, J. Algorithms 2005).
  *
  * `graft_cms(buckets, d, w)` takes the row's d PRE-HASHED bucket
  * indices (computed by plain Spark md5 column expressions, so the
  * DuckDB oracle restates the identical arithmetic) and maintains a
  * d×w BIGINT count matrix, flattened row-major. Estimate for an item =
  * min over j of cell[j*w + bucket_j(item)] — pure `element_at`/`least`
  * column expressions over the evaluated sketch.
  *
  * Why this shape at 100 TB: exact per-token counts shuffle the full
  * vocabulary; the sketch pass is a regular partial aggregation holding
  * d·w longs (4×256 = 8 KB here) per map task, merged by elementwise
  * addition — associative and commutative by construction, so the
  * result is IDENTICAL (not just approximately equal) under any
  * partitioning or merge tree (CmsSpec pins it). Memory O(d·w),
  * shuffle O(d·w) per group, both corpus-independent.
  */
case class CmsCounts(
    child: Expression,
    dExpr: Expression,
    wExpr: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] {

  override def checkInputDataTypes(): TypeCheckResult =
    (child.dataType, dExpr.dataType, wExpr.dataType) match {
      case (ArrayType(LongType, _), IntegerType, IntegerType)
          if dExpr.foldable && wExpr.foldable =>
        // eval() may be null for a foldable NULL-typed-as-int literal
        // (e.g. CAST(NULL AS INT)); fail cleanly instead of NPE-unboxing.
        if (dExpr.eval() == null || wExpr.eval() == null)
          TypeCheckResult.TypeCheckFailure("d, w must be non-null literals")
        else if (d >= 1 && w >= 1) TypeCheckResult.TypeCheckSuccess
        else TypeCheckResult.TypeCheckFailure(s"d, w must be >= 1, got ($d, $w)")
      case (c, dt, wt) => TypeCheckResult.TypeCheckFailure(
        s"graft_cms expects (array<bigint>, foldable int, foldable int), " +
          s"got ($c, $dt, $wt)")
    }

  private lazy val d: Int = dExpr.eval().asInstanceOf[Int]
  private lazy val w: Int = wExpr.eval().asInstanceOf[Int]

  override def children: Seq[Expression] = Seq(child, dExpr, wExpr)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_cms"

  override def createAggregationBuffer(): Array[Long] = new Array[Long](d * w)

  override def update(buffer: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val arr = v.asInstanceOf[ArrayData]
      var j = 0
      while (j < d) {
        val b = arr.getLong(j)
        require(b >= 0 && b < w, s"bucket $b out of [0, $w)")
        buffer(j * w + b.toInt) += 1L
        j += 1
      }
    }
    buffer
  }

  override def merge(buffer: Array[Long], other: Array[Long]): Array[Long] = {
    var i = 0
    while (i < buffer.length) { buffer(i) += other(i); i += 1 }
    buffer
  }

  override def eval(buffer: Array[Long]): Any =
    new GenericArrayData(buffer.map(_.asInstanceOf[Any]))

  override def serialize(buffer: Array[Long]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buffer.length)
    buffer.foreach(out.writeLong)
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val n = in.readInt()
    val buffer = new Array[Long](n)
    var i = 0
    while (i < n) { buffer(i) = in.readLong(); i += 1 }
    buffer
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): CmsCounts =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): CmsCounts =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): CmsCounts =
    copy(child = newChildren(0), dExpr = newChildren(1),
      wExpr = newChildren(2))
}

object CmsSketch {

  private val cmsInfo = new ExpressionInfo(
    classOf[CmsCounts].getName, "graft_cms")

  private val cmsBuilder: Seq[Expression] => Expression = {
    case Seq(child, dExpr, wExpr) => CmsCounts(child, dExpr, wExpr)
    case other => throw new IllegalArgumentException(
      s"graft_cms expects 3 arguments, got ${other.size}")
  }

  /** Idempotent runtime registration through [[SessionFunctions]]. */
  def register(spark: SparkSession): Unit =
    SessionFunctions.register(spark, "graft_cms" -> cmsBuilder)

  /** `SparkSessionExtensions` hook for global cluster-wide loading. */
  def inject(extensions: SparkSessionExtensions): Unit =
    extensions.injectFunction(
      (FunctionIdentifier("graft_cms"), cmsInfo, cmsBuilder))
}
