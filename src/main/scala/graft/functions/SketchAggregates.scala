package graft.functions

import org.apache.datasketches.common.ArrayOfStringsSerDe
import org.apache.datasketches.frequencies.{ErrorType, ItemsSketch}
import org.apache.datasketches.memory.Memory
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Approximate heavy hitters over a string column as a native Catalyst
  * aggregate wrapping the DataSketches Misra-Gries `ItemsSketch` (the
  * frequent-items sketch that ships with Spark's own jars).
  *
  * Scale contract: the aggregation state is a FIXED-SIZE mergeable sketch
  * (≤ maxMapSize counters per partition, merged pairwise), so corpus-wide
  * heavy hitters cost one map-side pass plus |partitions| sketch merges —
  * no (token → count) shuffle at all, unlike the exact
  * [[graft.text.TextOps.vocabulary]] path whose df table scales with the
  * distinct-token domain. Guarantees (Misra-Gries): NO FALSE NEGATIVES —
  * every item with true count > getMaximumError is returned — and each
  * estimate e satisfies lower ≤ true ≤ upper with upper − lower ≤
  * streamLength/maxMapSize. Exact when the distinct domain fits the map.
  *
  * Approximate by design → spec-gated (ExtensionsSpec), not in the strict
  * DuckDB oracle set, like the HLL/GK aggregates in [[graft.ops.Stats]]. */
case class FrequentItemsAggregate(
    child: Expression,
    maxMapSize: Int,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[ItemsSketch[String]] {

  require(maxMapSize >= 8 && (maxMapSize & (maxMapSize - 1)) == 0,
    s"maxMapSize must be a power of 2 >= 8, got $maxMapSize")

  @transient private lazy val serde = new ArrayOfStringsSerDe()

  override def createAggregationBuffer(): ItemsSketch[String] =
    new ItemsSketch[String](maxMapSize)

  override def update(buffer: ItemsSketch[String],
                      input: InternalRow): ItemsSketch[String] = {
    val v = child.eval(input)
    if (v != null) buffer.update(v.toString)
    buffer
  }

  override def merge(buffer: ItemsSketch[String],
                     other: ItemsSketch[String]): ItemsSketch[String] =
    buffer.merge(other)

  override def eval(buffer: ItemsSketch[String]): Any = {
    val rows = buffer.getFrequentItems(ErrorType.NO_FALSE_NEGATIVES)
    // deterministic output: estimate desc, then token asc
    val sorted = rows.sortBy(r => (-r.getEstimate, r.getItem))
    new GenericArrayData(sorted.map { r =>
      InternalRow(UTF8String.fromString(r.getItem), r.getEstimate,
        r.getLowerBound, r.getUpperBound)
    }.toArray[Any])
  }

  override def serialize(buffer: ItemsSketch[String]): Array[Byte] =
    buffer.toByteArray(serde)

  override def deserialize(bytes: Array[Byte]): ItemsSketch[String] =
    ItemsSketch.getInstance(Memory.wrap(bytes), serde)

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("token", StringType), StructField("estimate", LongType),
    StructField("lower", LongType), StructField("upper", LongType))))

  override def nullable: Boolean = false
  override def children: Seq[Expression] = Seq(child)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren.head)
  override def withNewMutableAggBufferOffset(offset: Int): FrequentItemsAggregate =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): FrequentItemsAggregate =
    copy(inputAggBufferOffset = offset)
  override def prettyName: String = "frequent_items"
}

/** EXACT bounded top-k by (score DESC, id ASC) as one aggregation pass —
  * the single-scan replacement for `orderBy(score.desc, id).limit(k)`
  * when SEVERAL k-lists are wanted from the same scan (q137 needs the
  * exact top-k AND the probed-bucket top-k of one cosine pass; two
  * TakeOrdered branches each re-run the whole scoring scan because a
  * map-only subtree has no exchange for AQE reuse to share).
  *
  * Scale contract: the aggregation state is ≤ 4k+16 (score, id) pairs
  * per partition (compacted to k on overflow and merge — truncating a
  * superset to its k best never discards a true top-k element), so a
  * corpus-wide top-k is one map pass + tiny merges, like TakeOrdered
  * but composable several-per-aggregation. The comparator is Spark's
  * total order on doubles (NaN greatest, -0.0 < 0.0) descending, id
  * ascending — exactly `ORDER BY score DESC, id ASC`. NULL scores are
  * skipped (callers gate membership with `when(cond, score)`). Output:
  * ARRAY<STRUCT<score DOUBLE, id BIGINT>> sorted best-first. */
case class TopKByScoreAggregate(
    score: Expression,
    id: Expression,
    k: Int,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[
    scala.collection.mutable.ArrayBuffer[(Double, Long)]] {

  require(k > 0, s"k must be positive, got $k")

  override def checkInputDataTypes(): TypeCheckResult =
    (score.dataType, id.dataType) match {
      case (DoubleType, LongType) => TypeCheckResult.TypeCheckSuccess
      case (s, i) => TypeCheckResult.TypeCheckFailure(
        s"topk_by_score expects (DOUBLE, BIGINT), got " +
          s"(${s.simpleString}, ${i.simpleString})")
    }

  private type Buf = scala.collection.mutable.ArrayBuffer[(Double, Long)]

  override def createAggregationBuffer(): Buf =
    new scala.collection.mutable.ArrayBuffer[(Double, Long)](k + 1)

  // score desc (Spark double total order), id asc
  private val ord: Ordering[(Double, Long)] =
    new Ordering[(Double, Long)] {
      override def compare(a: (Double, Long), b: (Double, Long)): Int = {
        val c = java.lang.Double.compare(b._1, a._1)
        if (c != 0) c else java.lang.Long.compare(a._2, b._2)
      }
    }

  private def compact(buf: Buf): Buf = {
    if (buf.length > k) {
      val best = buf.sorted(ord).take(k)
      buf.clear()
      buf ++= best
    }
    buf
  }

  override def update(buf: Buf, input: InternalRow): Buf = {
    val s = score.eval(input)
    if (s != null) {
      val i = id.eval(input)
      if (i != null) {
        buf += ((s.asInstanceOf[Double], i.asInstanceOf[Long]))
        if (buf.length >= 4 * k + 16) compact(buf)
      }
    }
    buf
  }

  override def merge(buf: Buf, other: Buf): Buf = compact(buf ++= other)

  override def eval(buffer: Buf): Any =
    new GenericArrayData(buffer.sorted(ord).take(k)
      .map { case (s, i) => InternalRow(s, i) }.toArray[Any])

  override def serialize(buffer: Buf): Array[Byte] = {
    val b = compact(buffer)
    val out = java.nio.ByteBuffer.allocate(4 + 16 * b.length)
    out.putInt(b.length)
    b.foreach { case (s, i) => out.putDouble(s); out.putLong(i) }
    out.array()
  }

  override def deserialize(bytes: Array[Byte]): Buf = {
    val in = java.nio.ByteBuffer.wrap(bytes)
    val n = in.getInt
    val buf = new scala.collection.mutable.ArrayBuffer[(Double, Long)](n)
    var j = 0
    while (j < n) { buf += ((in.getDouble, in.getLong)); j += 1 }
    buf
  }

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("score", DoubleType), StructField("id", LongType))))

  override def nullable: Boolean = false
  override def children: Seq[Expression] = Seq(score, id)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(score = newChildren(0), id = newChildren(1))
  override def withNewMutableAggBufferOffset(offset: Int): TopKByScoreAggregate =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): TopKByScoreAggregate =
    copy(inputAggBufferOffset = offset)
  override def prettyName: String = "topk_by_score"
}

object SketchAggregates {
  /** Column API for [[FrequentItemsAggregate]]: aggregates a string column
    * to ARRAY<STRUCT<token, estimate, lower, upper>>. */
  def frequentItems(c: Column, maxMapSize: Int = 1024): Column =
    Bridge.column(FrequentItemsAggregate(Bridge.catalystExpression(c),
      maxMapSize).toAggregateExpression())

  /** Column API for [[TopKByScoreAggregate]]: the k best (score, id)
    * pairs by (score DESC, id ASC) as ARRAY<STRUCT<score, id>>,
    * best-first. NULL scores don't participate. */
  def topKByScore(score: Column, id: Column, k: Int): Column =
    Bridge.column(TopKByScoreAggregate(Bridge.catalystExpression(score),
      Bridge.catalystExpression(id), k).toAggregateExpression())
}
