package graft.perfbench

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class TraceSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.ui.enabled", "false").getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def span(id: Int, parent: Int, start: Long, end: Long) = Span(id, parent, s"s$id", "r", start, end)

  test("self time is duration minus the covered child intervals") {
    val root = span(0, -1, 0, 100)
    val kids = Seq(span(1, 0, 10, 30), span(2, 0, 50, 60))
    assert(Span.selfTime(root, root +: kids) == 100 - 20 - 10)
  }

  test("overlapping children count once, and only inside the parent") {
    val root = span(0, -1, 0, 100)
    val kids = Seq(span(1, 0, 10, 40), span(2, 0, 30, 50), span(3, 0, 90, 130), span(4, 0, -20, 5))
    // covered: [0,5) + [10,50) + [90,100) = 5 + 40 + 10
    assert(Span.selfTime(root, root +: kids) == 100 - 55)
  }

  test("grandchildren do not count against the root") {
    val all = Seq(span(0, -1, 0, 100), span(1, 0, 10, 20), span(2, 1, 10, 90))
    assert(Span.selfTime(all.head, all) == 90)
    assert(Span.selfTime(all(1), all) == 0)
  }

  test("a live tracer nests spans and charges jobs to the innermost one") {
    val t = new Tracer(spark, enabled = true)
    t.start()
    t.span("outer") {
      Thread.sleep(20)
      t.span("inner")(spark.range(0, 1000, 1, 2).count())
    }
    t.stop()
    val Seq(inner, outer) = t.all
    assert(inner.parent == outer.id && outer.parent == -1)
    assert(Span.selfTime(outer, t.all) == outer.dur - inner.dur)
    assert(t.counters(inner.id).jobs >= 1 && t.counters(inner.id).tasks >= 2)
    assert(t.counters.get(outer.id).forall(_.jobs == 0))
    assert(t.total(outer).jobs == t.counters(inner.id).jobs)
  }

  test("a disabled tracer records nothing") {
    val t = new Tracer(spark, enabled = false)
    t.start()
    assert(t.span("x")(41 + 1) == 42)
    t.stop()
    assert(t.all.isEmpty && t.counters.isEmpty)
  }
}
