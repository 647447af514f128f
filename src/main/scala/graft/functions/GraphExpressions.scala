package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, GenericInternalRow, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types._

/** `graft_wedge_candidates(ns, filter_bytes)` — the triangle
  * pipeline's wedge enumeration ([[graft.operators.Graph
  * .triangleCounts]]) as ONE kernel: given a pivot's oriented
  * neighbor list `ns` (array<struct<d, n>>, any order) and the
  * serialized [[BlockedBloom]] over the oriented edge set's
  * `xxhash64(u, v)` keys, emit every (deg, id)-ordered pair
  * (v, w), v-key < w-key, whose closing edge MIGHT exist per the
  * bloom — array<struct<v, w>> of survivors only.
  *
  * Why a kernel: the same enumeration as a self-join (or as
  * filter-over-transform lambdas) materializes EVERY wedge — 411M
  * joined rows / transient structs at sf1 — before the bloom drops
  * ~95 % of them. Here the double loop runs over two primitive long
  * arrays, the probe (~one cache line, in-kernel xxhash64 replaying
  * Spark's own two-column seed chain) gates allocation, and only the
  * ~19M survivors ever become rows. No false negatives (bloom
  * contract), false positives removed by the exact close-join that
  * always follows.
  *
  * The (deg, id) total-order wedge uniqueness is established by an
  * IN-KERNEL dual-array quicksort of the primitive (d, n) columns —
  * round-14 optimization: the upstream SQL `sort_array` this replaces
  * ordered 12M struct elements (sf1) through an interpreted
  * per-element comparator.
  */
case class WedgeCandidates(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(s: StructType, _), BinaryType)
        if s.length == 2 && s.forall(_.dataType == LongType) && right.foldable =>
      TypeCheckResult.TypeCheckSuccess
    case (ArrayType(s: StructType, _), BinaryType)
        if s.length == 2 && s.forall(_.dataType == LongType) =>
      TypeCheckResult.TypeCheckFailure(
        "graft_wedge_candidates filter argument must be a literal (the serialized filter)")
    case _ => TypeCheckResult.TypeCheckFailure(
      "graft_wedge_candidates requires (array<struct<bigint,bigint>>, binary literal), " +
        s"got ${left.dataType.simpleString}, ${right.dataType.simpleString}")
  }

  @transient private lazy val filter: BlockedBloom = {
    val bytes = right.eval()
    require(bytes != null, "graft_wedge_candidates: filter literal is null")
    BlockedBloom.deserialize(bytes.asInstanceOf[Array[Byte]])
  }

  /** Called from generated code via the reference object. */
  def expand(ns: ArrayData): ArrayData = WedgeCandidates.expand(ns, filter)

  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("v", LongType, nullable = false),
      StructField("w", LongType, nullable = false))),
    containsNull = false)

  override def prettyName: String = "graft_wedge_candidates"

  override protected def nullSafeEval(ns: Any, bytes: Any): Any =
    expand(ns.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj(
      "wedgeCandidates", this, classOf[WedgeCandidates].getName)
    defineCodeGen(ctx, ev, (ns, _) => s"$ref.expand($ns)")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** [[WedgeCandidates]] with the serialized filter carried as a SPARK
  * BROADCAST instead of a plan literal (round 15). The literal form
  * embeds the multi-MB filter bytes in the expression tree: every
  * plan copy/serialization and every canonicalization equality check
  * walks them, the stage's task binary balloons (sf0.1: 4 MiB
  * "Broadcasting large task binary" warnings; sf1: ~24 MB filter),
  * and EVERY TASK deserializes its own `BlockedBloom` copy from its
  * own copy of the bytes. Here the plan carries only a broadcast
  * handle; the bytes move once per executor via the block manager,
  * and the deserialized filter is shared per (JVM, broadcast id)
  * through [[WedgeCandidates.filterFor]] — probe-only after
  * construction, so cross-task sharing is safe.
  */
case class WedgeCandidatesBc(
    child: Expression,
    bcast: org.apache.spark.broadcast.Broadcast[Array[Byte]])
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(s: StructType, _)
        if s.length == 2 && s.forall(_.dataType == LongType) =>
      TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      "graft_wedge_candidates_bc requires array<struct<bigint,bigint>>, " +
        s"got ${child.dataType.simpleString}")
  }

  @transient private lazy val filter: BlockedBloom =
    WedgeCandidates.filterFor(bcast)

  /** Called from generated code via the reference object. */
  def expand(ns: ArrayData): ArrayData = WedgeCandidates.expand(ns, filter)

  override def dataType: DataType = WedgeCandidates.pairArrayType

  override def prettyName: String = "graft_wedge_candidates_bc"

  override protected def nullSafeEval(ns: Any): Any =
    expand(ns.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj(
      "wedgeCandidatesBc", this, classOf[WedgeCandidatesBc].getName)
    defineCodeGen(ctx, ev, ns => s"$ref.expand($ns)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object WedgeCandidates {

  private[functions] val pairArrayType: DataType = ArrayType(
    StructType(Seq(
      StructField("v", LongType, nullable = false),
      StructField("w", LongType, nullable = false))),
    containsNull = false)

  /** Per-JVM cache of the DESERIALIZED filter: tasks deserialize the
    * expression tree independently, so an instance `lazy val` alone
    * would still rebuild the multi-MB long array per task — this map
    * makes the rebuild once per executor JVM.
    *
    * Keyed by the IDENTITY of the broadcast's byte array, not by
    * `bcast.id`: broadcast ids restart at 0 in every SparkContext, so
    * an id key hands a later context an earlier context's filter, whose
    * false negatives silently drop triangles. Every task of a JVM reads
    * the same array out of the block manager, and a `WeakHashMap` over
    * arrays compares by identity (arrays inherit `Object`'s equals and
    * hashCode). Keys are weak, so an entry goes once its broadcast's
    * bytes are unreachable; the filter copies the bytes into its own
    * words and cannot pin its key. SIZE BOUNDED for broadcasts that
    * stay alive (a long session of triangle queries, kTruss peel
    * rounds): past [[MaxCachedFilters]] one entry is evicted per
    * insert — a filter is always rebuildable from its bytes, so an
    * eviction costs at most one extra deserialization per task.
    */
  private val filterCache = new java.util.WeakHashMap[Array[Byte], BlockedBloom]()

  private val MaxCachedFilters = 8

  def filterFor(
      bcast: org.apache.spark.broadcast.Broadcast[Array[Byte]]): BlockedBloom = {
    val bytes = bcast.value
    filterCache.synchronized {
      val hit = filterCache.get(bytes)
      if (hit != null) hit
      else {
        val keys = filterCache.keySet.iterator
        if (filterCache.size >= MaxCachedFilters && keys.hasNext) {
          keys.next(); keys.remove()
        }
        val f = BlockedBloom.deserialize(bytes)
        filterCache.put(bytes, f)
        f
      }
    }
  }

  /** Static kernel: i < j pairs (in (d, n) key order — the list is
    * key-sorted IN-KERNEL over primitive arrays, so callers no longer
    * pay a SQL `sort_array` over struct elements, whose per-element
    * ordering is interpreted) of `ns`'s `n` fields surviving the bloom
    * probe on xxhash64(v, w) — Spark's two-column seed chain (seed 42
    * → hashLong(v) → seed for hashLong(w)) replayed exactly, so probe
    * keys equal the build side's `xxhash64(u, v)` values.
    */
  def expand(ns: ArrayData, filter: BlockedBloom): ArrayData = {
    val m = ns.numElements()
    val ds = new Array[Long](m)
    val ids = new Array[Long](m)
    var i = 0
    while (i < m) {
      val r = ns.getStruct(i, 2)
      ds(i) = r.getLong(0)
      ids(i) = r.getLong(1)
      i += 1
    }
    sortByKey(ds, ids, 0, m - 1)
    val out = new java.util.ArrayList[InternalRow](16)
    i = 0
    while (i < m - 1) {
      val v = ids(i)
      val h1 = XXH64.hashLong(v, 42L)
      var j = i + 1
      while (j < m) {
        val w = ids(j)
        if (filter.mightContain(XXH64.hashLong(w, h1))) {
          val row = new GenericInternalRow(2)
          row.setLong(0, v)
          row.setLong(1, w)
          out.add(row)
        }
        j += 1
      }
      i += 1
    }
    new GenericArrayData(out.toArray)
  }

  /** Dual-array quicksort by (d, id) ascending — allocation-free,
    * median-of-three pivot, insertion sort under 16 elements. Keys are
    * distinct within one neighbor list (ids are), so no 3-way
    * partition is needed. Recursion descends ONLY into the smaller
    * partition and loops on the larger (the standard introsort guard),
    * so stack depth is O(log m) even on a pivot-killer ordering of a
    * huge hub neighbor list — the naive both-sides recursion was O(m)
    * worst-case, a StackOverflowError inside codegen'd eval.
    */
  private def sortByKey(ds: Array[Long], vs: Array[Long], lo0: Int, hi0: Int): Unit = {
    @inline def lt(i: Int, dj: Long, vj: Long): Boolean =
      ds(i) < dj || (ds(i) == dj && vs(i) < vj)
    @inline def swap(i: Int, j: Int): Unit = {
      val d = ds(i); ds(i) = ds(j); ds(j) = d
      val v = vs(i); vs(i) = vs(j); vs(j) = v
    }
    def sort(loIn: Int, hiIn: Int): Unit = {
      var lo = loIn; var hi = hiIn
      while (hi - lo >= 16) {
        val mid = lo + (hi - lo) / 2
        if (lt(mid, ds(lo), vs(lo))) swap(lo, mid)
        if (lt(hi, ds(lo), vs(lo))) swap(lo, hi)
        if (lt(hi, ds(mid), vs(mid))) swap(mid, hi)
        val pd = ds(mid); val pv = vs(mid)
        var i = lo; var j = hi
        while (i <= j) {
          while (lt(i, pd, pv)) i += 1
          while (pd < ds(j) || (pd == ds(j) && pv < vs(j))) j -= 1
          if (i <= j) { swap(i, j); i += 1; j -= 1 }
        }
        // recurse into the SMALLER side, iterate on the larger
        if (j - lo < hi - i) {
          if (lo < j) sort(lo, j)
          lo = i
        } else {
          if (i < hi) sort(i, hi)
          hi = j
        }
      }
      // insertion sort for the final small range
      var i = lo + 1
      while (i <= hi) {
        val d = ds(i); val v = vs(i)
        var j = i - 1
        while (j >= lo && !lt(j, d, v)) { ds(j + 1) = ds(j); vs(j + 1) = vs(j); j -= 1 }
        ds(j + 1) = d; vs(j + 1) = v
        i += 1
      }
    }
    if (hi0 > lo0) sort(lo0, hi0)
  }
}

/** Column builders (see [[GraftFunctions]] for the session-threading
  * convention).
  */
object GraphFunctions {

  def wedgeCandidates(ns: Column, filterBytes: Array[Byte]): Column =
    wedgeCandidates(SparkSession.active, ns, filterBytes)

  def wedgeCandidates(
      spark: SparkSession, ns: Column, filterBytes: Array[Byte]): Column = {
    GraftFunctions.register(spark)
    call_function("graft_wedge_candidates", ns,
      org.apache.spark.sql.functions.lit(filterBytes))
  }

  /** [[wedgeCandidates]] with the filter shipped as a Spark broadcast
    * instead of a plan literal — see [[WedgeCandidatesBc]] for why.
    * The caller owns the broadcast's lifecycle.
    */
  def wedgeCandidatesBc(
      ns: Column,
      bcast: org.apache.spark.broadcast.Broadcast[Array[Byte]]): Column =
    org.apache.spark.sql.GraftInternal.column(
      WedgeCandidatesBc(org.apache.spark.sql.GraftInternal.expr(ns), bcast))
}
