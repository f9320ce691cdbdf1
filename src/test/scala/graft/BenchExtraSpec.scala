package graft

import org.scalatest.funsuite.AnyFunSuite

class BenchExtraSpec extends AnyFunSuite {
  test("median averages the two middle reps of an even count") {
    assert(BenchExtra.median(Seq(3.0)) == 3.0)
    assert(BenchExtra.median(Seq(5.0, 1.0, 3.0)) == 3.0)
    assert(BenchExtra.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
    assert(BenchExtra.median(Seq(1.0, 2.0)) == 1.5)
  }

  test("warm-up stops once two consecutive runs agree within 10%, at most 5 runs") {
    def runs(xs: Double*): () => Double = { val it = xs.iterator; () => it.next() }
    // the q18 shape: falling, then flat
    assert(BenchExtra.warmUp(runs(4.99, 2.6, 1.9, 1.79, 1.8)) == 4)
    assert(BenchExtra.warmUp(runs(1.0, 1.1)) == 2)
    // never settles: capped
    assert(BenchExtra.warmUp(runs(8.0, 4.0, 2.0, 1.0, 0.5, 0.25)) == 5)
    // a failed run (NaN) never counts as agreement
    assert(BenchExtra.warmUp(runs(Double.NaN, Double.NaN, 1.0, 1.0)) == 4)
  }
}
