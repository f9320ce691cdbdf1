package graft.ops

import org.scalatest.funsuite.AnyFunSuite

/** The run-grouping iterator and pair helper behind every bucket pair loop
  * (q18, q20, q21, q24, entity linking), driven directly without Spark:
  * rows are (bucket key, id).
  */
class BucketPairsSpec extends AnyFunSuite {

  private def runs(rows: Iterator[(Int, Long)], cap: Int = Int.MaxValue) =
    new BucketPairs.Runs[(Int, Long), Int, (Long, Long)](rows, cap, _._1,
      run => BucketPairs.pairs(run)(_._2).map { case (a, b) => (a._2, b._2) })

  private def pairsOf(rows: Seq[(Int, Long)], cap: Int = Int.MaxValue) =
    runs(rows.iterator, cap).toList

  test("a run of exactly cap rows emits all its pairs; cap + 1 rows emit none") {
    val cap = 5
    val full = (1L to cap).map(i => (7, i))
    val over = full :+ ((7, 6L))
    assert(pairsOf(full, cap).length == cap * (cap - 1) / 2)
    assert(pairsOf(over, cap).isEmpty)
    // dropping a run leaves the runs around it intact
    val around = full.map { case (_, i) => (1, i) } ++ over ++ Seq((9, 1L), (9, 2L))
    assert(pairsOf(around, cap).length == cap * (cap - 1) / 2 + 1)
  }

  test("the first next() reads only the first run") {
    var read = 0
    val rows = ((1L to 3L).map(i => (1, i)) ++ (1L to 1000L).map(i => (2, i)))
      .iterator.map { r => read += 1; r }
    val it = runs(rows)
    assert(it.next() == ((1L, 2L)))
    assert(read <= 4, s"read $read rows: the first run is 3 rows, plus one to see where it ends")
  }

  test("a 1M-row run over the cap is skipped while holding at most cap + 1 rows") {
    val cap = 64
    var maxHeld = 0
    var it: BucketPairs.Runs[(Int, Long), Int, (Long, Long)] = null
    val rows = (Iterator.range(0, 1000000).map(i => (1, i.toLong)) ++ Iterator((2, 1L), (2, 2L)))
      .map { r => maxHeld = math.max(maxHeld, it.held); r }
    it = runs(rows, cap)
    assert(it.toList == List((1L, 2L)))
    assert(maxHeld >= cap && maxHeld <= cap + 1, s"held up to $maxHeld rows")
  }

  test("ids in descending order still yield (min, max) pairs") {
    val got = pairsOf((5L to 1L by -1).map(i => (3, i)))
    val want = for (a <- 1L to 5L; b <- a + 1 to 5L) yield (a, b)
    assert(got.sorted == want.toList)
  }

  test("empty input and runs of one row yield nothing") {
    assert(pairsOf(Nil).isEmpty)
    assert(pairsOf(Seq((1, 1L), (2, 1L), (3, 9L))).isEmpty)
    assert(pairsOf(Seq((1, 1L), (2, 1L)), cap = 0).isEmpty)
  }
}
