package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSuite

/** x202 water-filling laws on a SKEWED synthetic corpus (the real
  * documents fixture has near-uniform sources, so its run never
  * exercises the saturated branch): small sources keep everything,
  * uncapped allocations differ by at most one token, every capped
  * count sits at or below every uncapped allocation (the water-level
  * property), the total hits the budget EXACTLY, and the whole output
  * equals an independent greedy local replay of the textbook
  * algorithm. */
class WaterfillSpec extends SparkSuite {
  // skewed: tiny, small, mid, and two huge sources
  private val counts = Map(
    "tiny" -> 3L, "small" -> 40L, "mid" -> 500L,
    "big" -> 5000L, "huge" -> 20000L)

  private def docsDf = {
    import spark.implicits._
    // one doc per source with (tokens) words — tokensCol counts words
    counts.toSeq.map { case (s, n) =>
      (s, Seq.fill(n.toInt)("w").mkString(" "))
    }.toDF("source", "text")
  }

  private def run(budgetDiv: Long) =
    Corpus.waterfillAllocation(docsDf, "source",
      expr("length(text) - length(replace(text, ' ', '')) + 1"), budgetDiv)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))

  /** Independent greedy replay: raise the level one saturation step at
    * a time, then split the remainder. */
  private def greedy(budget: Long): Map[String, Long] = {
    val sorted = counts.toSeq.sortBy { case (s, c) => (c, s) }
    var rem = budget
    var alloc = Map.empty[String, Long]
    var pending = sorted
    while (pending.nonEmpty) {
      val (s, c) = pending.head
      val share = rem / pending.length
      if (c <= share) {
        alloc += s -> c; rem -= c; pending = pending.tail
      } else {
        val lam = rem / pending.length
        val r = rem % pending.length
        pending.zipWithIndex.foreach { case ((ps, _), i) =>
          alloc += ps -> (lam + (if (i < r) 1L else 0L))
        }
        pending = Nil
      }
    }
    alloc
  }

  test("budget exactness, level property, greedy replay (skewed, div 2)") {
    val total = counts.values.sum
    for (div <- Seq(2L, 4L, 16L)) {
      val budget = total / div
      val got = run(div)
      assert(got.map(_._3).sum === budget, s"div=$div")
      got.foreach { case (_, c, a, capped) =>
        assert(a <= c)
        if (capped) assert(a === c)
      }
      // exact replay equality
      assert(got.map(t => t._1 -> t._3).toMap === greedy(budget), s"div=$div")
      // level property: uncapped allocations within 1 of each other,
      // and every capped count ≤ every uncapped allocation
      val un = got.filter(!_._4).map(_._3)
      if (un.nonEmpty) {
        assert(un.max - un.min <= 1)
        got.filter(_._4).foreach { case (_, c, _, _) =>
          assert(c <= un.max)
        }
      }
    }
  }

  test("small sources are kept whole at div 2") {
    val got = run(2L).map(t => t._1 -> t._3).toMap
    assert(got("tiny") === 3L)
    assert(got("small") === 40L)
    assert(got("huge") < counts("huge"))
  }
}
