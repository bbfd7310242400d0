package org.apache.spark.mllib.graft

/** Test-side view of DimsumFork's hash-path accumulator, which is
  * private[graft]. */
object DimsumProbe {

  /** The most slots the accumulator's table holds while `keys` (nonzero)
    * are added one by one at `maxCapacity`. */
  def peakSlots(maxCapacity: Int, keys: Iterator[Long]): Int = {
    val acc = new DimsumFork.HashPairAccumulator(maxCapacity, numReducers = 1)
    keys.foldLeft(acc.slots) { (peak, key) =>
      acc.add(key, 1.0)
      acc.ready.clear()
      math.max(peak, acc.slots)
    }
  }
}
