package graft.pipebench

import graft.similarity.Similarity
import graft.similarity.Similarity.Person

/** Single-JVM microbench of the scoring kernel, `Similarity.personSimilarity`,
  * over a fixed sample of a linkage workload's own candidate pairs. It
  * runs on the driver thread alone, so it gives a per-pair cost that no
  * scheduling or shuffle noise reaches.
  */
object Kernel {
  val SampleSize = 20000
  private val Warmup = 3
  private val Passes = 7

  final case class Result(nsPerPair: Double, equalShare: Double)

  /** Share of pairs whose five scorer fields are byte-equal (twins). */
  def equalShare(pairs: Array[(Person, Person)]): Double =
    if (pairs.isEmpty) 0.0 else pairs.count { case (a, b) => a == b }.toDouble / pairs.length

  def measure(pairs: Array[(Person, Person)]): Result = {
    if (pairs.isEmpty) return Result(0.0, 0.0)
    var sink = 0.0
    def pass(): Long = {
      val t0 = System.nanoTime()
      var i = 0
      while (i < pairs.length) {
        val (a, b) = pairs(i)
        sink += Similarity.personSimilarity(a, b)
        i += 1
      }
      System.nanoTime() - t0
    }
    (0 until Warmup).foreach(_ => pass())
    val times = (0 until Passes).map(_ => pass()).sorted
    require(!sink.isNaN, "kernel produced NaN")
    Result(times(Passes / 2).toDouble / pairs.length, equalShare(pairs))
  }
}
