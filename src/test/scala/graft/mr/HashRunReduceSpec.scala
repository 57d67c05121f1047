package graft.mr

import scala.collection.mutable.ArrayBuffer

import org.scalatest.funsuite.AnyFunSuite

/** The grouping iterator behind [[MapReduceJob.run]], fed synthetic
  * `(h, k, v)` rows sorted on `h`: hash collisions, partial reducers,
  * null and empty keys, and streaming. */
class HashRunReduceSpec extends AnyFunSuite {

  private type Reduce = (String, Iterator[String]) => IterableOnce[(String, String)]

  private val echo: Reduce = (k, vs) => vs.map(v => (k, v))

  /** Every reduce call as (key, the values it read), in call order. */
  private def calls(rows: Seq[(Long, String, String)]): Seq[(String, Seq[String])] = {
    val seen = ArrayBuffer.empty[(String, Seq[String])]
    new HashRunReduce(rows.iterator, (k, vs) => { seen += ((k, vs.toList)); Iterator.empty }).foreach(_ => ())
    seen.toSeq
  }

  private def bag(vs: Seq[String]) = vs.groupBy(identity).map { case (v, g) => v -> g.size }

  test("forced collisions: each key of a shared hash is reduced once with exactly its values") {
    val rows = Seq((7L, "k1", "a"), (7L, "k2", "b"), (7L, "k1", "c"), (7L, "k3", "d"), (7L, "k2", "e"),
      (9L, "k4", "f"))
    val got = calls(rows)
    assert(got.map(_._1) === Seq("k1", "k2", "k3", "k4"), "the first key first, then the stash in order")
    assert(got.map { case (k, vs) => k -> bag(vs) }.toMap ===
      Map("k1" -> bag(Seq("a", "c")), "k2" -> bag(Seq("b", "e")), "k3" -> bag(Seq("d")), "k4" -> bag(Seq("f"))))
  }

  test("a collision stash left at the end of the input is still reduced") {
    val rows = Seq((1L, "a", "1"), (5L, "x", "1"), (5L, "y", "2"), (5L, "x", "3"), (5L, "y", "4"))
    assert(calls(rows).map { case (k, vs) => k -> vs.toSet } ===
      Seq("a" -> Set("1"), "x" -> Set("1", "3"), "y" -> Set("2", "4")))
  }

  test("reducers that read none, one or all of their values see only their own key's values") {
    val rows = Seq((1L, "a", "1"), (1L, "a", "2"), (1L, "b", "9"), (1L, "a", "3"),
      (2L, "c", "4"), (2L, "c", "5"), (3L, "d", "6"), (3L, "e", "7"), (3L, "d", "8"))
    val byKey = rows.groupBy(_._2).map { case (k, g) => k -> g.map(_._3) }
    val none: Reduce = (k, _) => Iterator((k, "-"))
    val one: Reduce = (k, vs) => Iterator((k, vs.next()))
    val all: Reduce = (k, vs) => Iterator((k, vs.mkString(",")))
    assert(new HashRunReduce(rows.iterator, none).toMap === byKey.map { case (k, _) => k -> "-" })
    val firsts = new HashRunReduce(rows.iterator, one).toList
    assert(firsts.map(_._1).sorted === byKey.keys.toList.sorted, "every key reduced once")
    firsts.foreach { case (k, v) => assert(byKey(k).contains(v), s"$k got $v") }
    val alls = new HashRunReduce(rows.iterator, all).toList
    assert(alls.map(_._1).sorted === byKey.keys.toList.sorted)
    alls.foreach { case (k, v) => assert(bag(v.split(",").toSeq) === bag(byKey(k)), k) }
  }

  test("null and empty-string keys group on their own, also when they share a hash") {
    val rows = Seq((42L, null, "n1"), (42L, "", "e1"), (42L, null, "n2"), (42L, "", "e2"),
      (43L, "x", "x1"))
    assert(calls(rows).map { case (k, vs) => k -> vs.toSet } ===
      Seq((null, Set("n1", "n2")), ("", Set("e1", "e2")), ("x", Set("x1"))))
    // the null key stashed behind the empty one
    val swapped = Seq((42L, "", "e1"), (42L, null, "n1"), (42L, "", "e2"), (42L, null, "n2"))
    assert(calls(swapped).map { case (k, vs) => k -> vs.toSet } ===
      Seq(("", Set("e1", "e2")), (null, Set("n1", "n2"))))
    assert(new HashRunReduce(rows.iterator, echo).toList.count(_._1 == null) === 2)
  }

  test("streaming: an identity reducer's outputs never wait on more than one row of look-ahead") {
    val rows = (1L to 6L).flatMap(h => Seq.tabulate(3)(i => (h, s"k$h", s"v$h.$i")))
    var taken = 0
    var pulled = 0
    val input = new Iterator[(Long, String, String)] {
      private val it = rows.iterator
      def hasNext: Boolean = it.hasNext
      def next(): (Long, String, String) = {
        pulled += 1
        assert(pulled <= taken + 1, s"pulled row $pulled before output ${taken + 1} was taken")
        it.next()
      }
    }
    val out = new HashRunReduce(input, echo)
    val got = ArrayBuffer.empty[(String, String)]
    while (out.hasNext) { got += out.next(); taken += 1 }
    assert(got.toSeq === rows.map(r => (r._2, r._3)))
  }
}
