package graft.functions

import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow

import graft.SparkTestBase

/** The bloom-gated wedge enumeration kernel behind the triangle
  * pipeline: every i<j pair whose closing-edge key the filter was
  * built over MUST be emitted (no false negatives), pairs are emitted
  * at most once each in i<j order, and nothing outside the i<j set
  * appears. False positives are allowed (the exact close join removes
  * them) — soundness here is "superset of the truth, subset of the
  * enumeration".
  */
class WedgeCandidatesSpec extends SparkTestBase {

  private def key(v: Long, w: Long): Long =
    XXH64.hashLong(w, XXH64.hashLong(v, 42L))

  private def runKernel(ids: Seq[Long], edgeKeys: Seq[Long]): Seq[(Long, Long)] = {
    val bloom = BlockedBloom.create(math.max(edgeKeys.size, 1).toLong, 16)
    edgeKeys.foreach(bloom.put)
    val filter = BlockedBloom.deserialize(bloom.serialized)
    val ns = new GenericArrayData(ids.map { id =>
      val r = new GenericInternalRow(2)
      r.setLong(0, id / 100) // a fake degree field: (d, n) order != id order
      r.setLong(1, id)
      r
    }.toArray)
    val out = WedgeCandidates.expand(ns, filter)
    (0 until out.numElements()).map { i =>
      val r = out.getStruct(i, 2)
      (r.getLong(0), r.getLong(1))
    }
  }

  /** The kernel's contract since the round-14 in-kernel sort: pairs
    * come out normalized by the (d, n) key order, regardless of the
    * input list's order.
    */
  private def keyOrderedPairs(ids: Seq[Long]): Seq[(Long, Long)] = {
    val sorted = ids.sortBy(id => (id / 100, id))
    for {
      i <- sorted.indices; j <- sorted.indices if i < j
    } yield (sorted(i), sorted(j))
  }

  test("no false negatives: every built closing pair survives; only key-ordered pairs appear") {
    val rnd = new scala.util.Random(4213L)
    for (trial <- 1 to 50) {
      val m = 2 + rnd.nextInt(12)
      val ids = Seq.fill(m)(rnd.nextLong().abs % 1000).distinct
      val allPairs = keyOrderedPairs(ids)
      val closing = allPairs.filter(_ => rnd.nextBoolean())
      val got = runKernel(ids, closing.map { case (v, w) => key(v, w) })
      val missing = closing.toSet -- got.toSet
      assert(missing.isEmpty, s"trial $trial lost closing pairs: $missing")
      assert(got.toSet.subsetOf(allPairs.toSet),
        s"trial $trial emitted non-key-ordered pairs: ${got.toSet -- allPairs.toSet}")
      assert(got.distinct == got, s"trial $trial emitted duplicates")
    }
  }

  test("input order is irrelevant: shuffled and sorted inputs emit the same pair set") {
    val rnd = new scala.util.Random(977L)
    for (trial <- 1 to 30) {
      val m = 2 + rnd.nextInt(40)
      val ids = Seq.fill(m)(rnd.nextLong().abs % 10000).distinct
      val closing = keyOrderedPairs(ids).filter(_ => rnd.nextBoolean())
      val keys = closing.map { case (v, w) => key(v, w) }
      val sortedIn = runKernel(ids.sortBy(id => (id / 100, id)), keys)
      val shuffledIn = runKernel(rnd.shuffle(ids), keys)
      assert(sortedIn == shuffledIn,
        s"trial $trial: in-kernel sort diverged from pre-sorted input")
    }
  }

  test("empty and single-element lists emit nothing") {
    assert(runKernel(Seq.empty, Seq.empty).isEmpty)
    assert(runKernel(Seq(7L), Seq.empty).isEmpty)
  }

  /** A broadcast with a chosen id and value — stands in for broadcasts
    * of different SparkContexts, whose ids both restart at 0.
    */
  private class FixedBroadcast(id: Long, bytes: Array[Byte])
      extends org.apache.spark.broadcast.Broadcast[Array[Byte]](id) {
    override protected def getValue(): Array[Byte] = bytes
    override protected def doUnpersist(blocking: Boolean): Unit = ()
    override protected def doDestroy(blocking: Boolean): Unit = ()
  }

  test("filterFor: broadcasts sharing an id each get their own filter") {
    def bloomOf(keys: Seq[Long]): Array[Byte] = {
      val b = BlockedBloom.create(1024L, 16)
      keys.foreach(b.put)
      b.serialized
    }
    val (ka, kb) = (key(1L, 2L), key(3L, 4L))
    val a = new FixedBroadcast(0L, bloomOf(Seq(ka)))
    val b = new FixedBroadcast(0L, bloomOf(Seq(kb)))
    val fa = WedgeCandidates.filterFor(a)
    val fb = WedgeCandidates.filterFor(b)
    assert(fa.mightContain(ka) && !fa.mightContain(kb))
    assert(fb.mightContain(kb) && !fb.mightContain(ka),
      "a second broadcast with a reused id got the first one's filter")
    // the cache still serves repeat lookups, and stays correct after
    // more distinct filters than it holds have passed through it
    assert(WedgeCandidates.filterFor(a) eq fa)
    (1 to 20).foreach { i =>
      WedgeCandidates.filterFor(new FixedBroadcast(0L, bloomOf(Seq(key(i, -i)))))
    }
    assert(WedgeCandidates.filterFor(b).mightContain(kb))
    assert(!WedgeCandidates.filterFor(b).mightContain(ka))
  }
}
