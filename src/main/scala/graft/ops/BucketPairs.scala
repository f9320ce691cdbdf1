package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, Encoder}
import org.apache.spark.sql.functions.col
import scala.collection.mutable.ArrayBuffer

/** The blocking step shared by the pair operators (q18 shingle posting
  * lists, q20 MinHash band buckets, q21 SimHash chunks, q24 cosine tiles and
  * the entity linker's surface buckets): candidate pairs come straight from
  * each bucket's run of rows instead of a bucket self-join.
  *
  * Why this shape:
  *  - A self-join on the bucket key evaluates its (expensive) input twice,
  *    once per side, and pushes every candidate pair through join machinery.
  *    Here the input is shuffled once and each run is paired in a loop.
  *  - The exchange has an explicit partition count
  *    (`defaultParallelism`, planned as `REPARTITION_BY_NUM`). A plain
  *    key-clustered exchange is AQE-coalescible, and at small byte sizes AQE
  *    merges it into one partition, which runs the whole pair loop in one
  *    task. PlanSpec pins this.
  *  - Runs are grouped from a stream sorted within each partition, so memory
  *    is one run at a time, not one partition.
  *  - A run longer than `cap` is dropped whole before pairing: the block
  *    purging of SparkER (EDBT 2019). Stop-word buckets would otherwise emit
  *    O(k^2) pairs. At most cap+1 rows of a dropped run are ever held.
  */
object BucketPairs {

  /** Shuffles `rows` by the `keys` columns, sorts each partition by them and
    * hands every run of equal `key` (at most `cap` rows long) to `emit`.
    * `rows` must already be in `T`'s column order; `key` must agree with
    * the `keys` columns.
    */
  def apply[T: Encoder, K, U: Encoder](rows: DataFrame, keys: Seq[String],
      cap: Int = Int.MaxValue)(key: T => K)(emit: ArrayBuffer[T] => Iterator[U]): Dataset[U] = {
    val p = rows.sparkSession.sparkContext.defaultParallelism
    val ks = keys.map(col)
    rows.repartition(p, ks: _*).sortWithinPartitions(ks: _*)
      .as[T].mapPartitions(it => new Runs(it, cap, key, emit))
  }

  /** Every (a, b) pair of `run` with a before b once the run is stably
    * sorted by `id`, so each pair comes out as (smaller id, larger id).
    */
  def pairs[T](run: ArrayBuffer[T])(id: T => Long): Iterator[(T, T)] = {
    val a = run.sortBy(id)
    a.indices.iterator.flatMap(i => Iterator.range(i + 1, a.length).map(j => (a(i), a(j))))
  }

  /** Lazy iterator over the runs of equal `key` in a key-sorted stream: it
    * reads the next run only when the pairs of the last one are used up.
    */
  private[ops] final class Runs[T, K, U](it: Iterator[T], cap: Int, key: T => K,
      emit: ArrayBuffer[T] => Iterator[U]) extends Iterator[U] {
    private val buf = it.buffered
    private var pending: Iterator[U] = Iterator.empty
    private var run = ArrayBuffer.empty[T]

    /** Rows of the current run held in memory. */
    def held: Int = run.length

    private def advance(): Unit =
      while (!pending.hasNext && buf.hasNext) {
        val k = key(buf.head)
        run = ArrayBuffer.empty[T]
        var over = false
        while (buf.hasNext && key(buf.head) == k) {
          val r = buf.next()
          if (!over) { run += r; if (run.length > cap) { over = true; run.clear() } }
        }
        if (!over) pending = emit(run)
      }

    def hasNext: Boolean = { advance(); pending.hasNext }
    def next(): U = { advance(); pending.next() }
  }
}
