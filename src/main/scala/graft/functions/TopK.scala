package graft.functions

import org.apache.spark.sql.{Column, GraftExpr, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** Map-side top-k aggregation over (score, id) pairs — the
  * scale-correct replacement for `row_number().over(partitionBy(q)
  * .orderBy(score desc)) <= k` in the ANN candidate rankers.
  *
  * Why (measured, SCALE.md third embeddings decade): the window
  * formulation materializes EVERY candidate row into an exchange +
  * per-partition sort before discarding all but k. IVF candidates at
  * √N sizing are N·nprobe·√N rows — 5.6×10⁹ vector-free rows at 2M
  * vectors, whose sort spill exceeded local disk TWICE (the run died
  * at 66+ GB of spill). As a TypedImperativeAggregate the top-k
  * collapses MAP-SIDE: each task keeps at most k entries per query
  * group (partial aggregation before the exchange — the same physical
  * shape as the sketch suite), so the shuffle carries ≤ tasks·k rows
  * per query whatever the candidate count.
  *
  * Ordering contract (bit-parity with the window path): entries rank
  * by score under Spark's total double order (java.lang.Double
  * .compare — NaN greatest), ties by ascending id; eval() returns the
  * entries best-first, so `posexplode` position + 1 IS the
  * row_number() rank.
  *
  * NULL-score contract: rows whose score (or id) is null are EXCLUDED
  * from the top-k — a null similarity means a null input vector, and a
  * null vector is not a neighbor. (The row_number window this replaced
  * ranked null scores last, so a group with fewer than k non-null
  * candidates could emit null-sim tail rows; that behavior was an
  * artifact of the formulation, not a semantic.)
  */
object TopK {
  def topKBy(score: Column, id: Column, k: Int): Column =
    GraftExpr.column(TopKByAgg(GraftExpr.expression(score),
      GraftExpr.expression(id), k).toAggregateExpression())

  /** The conf whose DEFAULT silently defeats this aggregate at scale:
    * ObjectHashAggregateExec falls back to SORT-based aggregation once
    * a task sees more than this many distinct group keys (Spark
    * default 128) — and per-task qid counts in any real ANN workload
    * are thousands, so under default config the map-side top-k
    * re-materializes every candidate row into exactly the sort spill
    * it exists to kill (measured: the 2M-vector run re-spilled the
    * same 66 GB; at 4M it holds ~17 MB of k-entry buffers per task and
    * finishes — SCALE.md). [[graft.Session]] sets it; the rankers only
    * check it ([[checkHashAggCapacity]]).
    */
  val FallbackConf = "spark.sql.objectHashAggregate.sortBased.fallbackThreshold"

  /** Keys-per-task ceiling the house session sets and the rankers
    * check for. Memory at the ceiling is bounded by ROWS per task, not
    * keys: a task holds at most (its input rows) buffers of ≤ k
    * (id, sim) entries — 16·k bytes each — and ANN tasks see
    * N·nprobe/partitions candidate rows whose distinct qids are far
    * fewer; 4M keys × k=10 would still be ~640 MB worst-case, far
    * below the sort spill it replaces.
    */
  val RequiredFallbackThreshold = 4000000L

  private lazy val log = org.slf4j.LoggerFactory.getLogger("graft.TopK")

  /** Read-only: when `spark`'s [[FallbackConf]] is below
    * [[RequiredFallbackThreshold]], log one WARN naming both, and plan
    * anyway — the result is the same, past the threshold's keys per
    * task the aggregate just sorts. Called by every operator that plans
    * a [[TopKByAgg]]; the conf belongs to the session, never to them.
    */
  def checkHashAggCapacity(spark: SparkSession): Unit = {
    val cur =
      try spark.conf.get(FallbackConf, "128").toLong
      catch { case _: NumberFormatException => 128L }
    if (cur < RequiredFallbackThreshold)
      log.warn(s"$FallbackConf is $cur, below the $RequiredFallbackThreshold " +
        "the map-side top-k needs: past that many keys per task its " +
        s"aggregate falls back to a sort; set $FallbackConf=" +
        s"$RequiredFallbackThreshold on the session (graft.Session does)")
  }
}

object TopKImpl {
  /** Fixed-capacity insertion buffer, kept sorted best-first. */
  final class Buf(val k: Int) {
    val sims = new Array[Double](k)
    val ids = new Array[Long](k)
    var n = 0

    def insert(sim: Double, id: Long): Unit = {
      var pos = n
      while (pos > 0 && {
        val cmp = java.lang.Double.compare(sim, sims(pos - 1))
        cmp > 0 || (cmp == 0 && id < ids(pos - 1))
      }) pos -= 1
      if (pos < k) {
        val last = math.min(n, k - 1)
        var j = last
        while (j > pos) { sims(j) = sims(j - 1); ids(j) = ids(j - 1); j -= 1 }
        sims(pos) = sim; ids(pos) = id
        if (n < k) n += 1
      }
    }
  }

  val entryType: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("sim", DoubleType, nullable = false)))
}

case class TopKByAgg(
    score: Expression, id: Expression, k: Int,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[TopKImpl.Buf] {

  require(k >= 1 && k <= (1 << 16), s"k must be in [1, 65536], got $k")

  override def checkInputDataTypes(): TypeCheckResult = (score.dataType, id.dataType) match {
    case (DoubleType, LongType) => TypeCheckResult.TypeCheckSuccess
    case (s, i) => TypeCheckResult.TypeCheckFailure(
      s"top_k_by expects (DoubleType score, LongType id), got ($s, $i)")
  }

  override def createAggregationBuffer(): TopKImpl.Buf = new TopKImpl.Buf(k)

  override def update(buf: TopKImpl.Buf, input: InternalRow): TopKImpl.Buf = {
    val s = score.eval(input)
    val i = id.eval(input)
    if (s != null && i != null)
      buf.insert(s.asInstanceOf[Double], i.asInstanceOf[Long])
    buf
  }

  override def merge(buf: TopKImpl.Buf, other: TopKImpl.Buf): TopKImpl.Buf = {
    var j = 0
    while (j < other.n) { buf.insert(other.sims(j), other.ids(j)); j += 1 }
    buf
  }

  override def eval(buf: TopKImpl.Buf): Any = {
    val out = new Array[Any](buf.n)
    var j = 0
    while (j < buf.n) { out(j) = InternalRow(buf.ids(j), buf.sims(j)); j += 1 }
    new GenericArrayData(out)
  }

  override def serialize(buf: TopKImpl.Buf): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val dos = new java.io.DataOutputStream(bos)
    dos.writeInt(buf.k); dos.writeInt(buf.n)
    var j = 0
    while (j < buf.n) { dos.writeDouble(buf.sims(j)); dos.writeLong(buf.ids(j)); j += 1 }
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): TopKImpl.Buf = {
    val dis = new java.io.DataInputStream(new java.io.ByteArrayInputStream(bytes))
    val kk = dis.readInt(); val n = dis.readInt()
    val buf = new TopKImpl.Buf(kk)
    var j = 0
    while (j < n) {
      val s = dis.readDouble(); val i = dis.readLong()
      buf.sims(j) = s; buf.ids(j) = i; j += 1
    }
    buf.n = n
    buf
  }

  override def dataType: DataType = ArrayType(TopKImpl.entryType, containsNull = false)
  override def nullable: Boolean = false
  override def children: Seq[Expression] = Seq(score, id)
  override def prettyName: String = "top_k_by"

  override def withNewMutableAggBufferOffset(o: Int): TopKByAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): TopKByAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(cs: IndexedSeq[Expression]): TopKByAgg =
    copy(score = cs(0), id = cs(1))
}
