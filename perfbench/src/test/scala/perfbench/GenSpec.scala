package perfbench

import org.scalatest.funsuite.AnyFunSuite

/** The generator is a pure function of the seed: a run can be replayed
  * exactly, and different seeds give different inputs.
  */
class GenSpec extends AnyFunSuite {
  private val source = (0 until 300).map(i => (i.toLong,
    Seq(7, 11, 13, 5, 3, 17, 19).map(m => s"w${i % m}").mkString(" ")))
  private val vecs = (0 until 120).map(i =>
    Seq.tabulate(4)(j => ((i * 7 + j) % 10).toFloat))

  private def frame(seed: Long) = Gen.frameOps(seed, 5)
  private def search(seed: Long) = Gen.searchPlan(seed, source, vecs, 5)
  private def hash(seed: Long) = Gen.fingerprint(frame(seed), search(seed))

  test("the same seed gives identical ops and batch contents") {
    assert(hash(7) == hash(7))
  }

  test("another seed gives another op sequence, build and tail batch") {
    assert(hash(7) != hash(8))
    assert(frame(7) != frame(8))
    assert(search(7).ops != search(8).ops)
    assert(search(7).base != search(8).base)
    assert(search(7).tail != search(8).tail)
  }

  test("every seed sees the same mix of op kinds") {
    assert(frame(7).map(_.kind) == frame(8).map(_.kind))
    assert(search(7).ops.map(_.kind) == search(8).ops.map(_.kind))
  }
}
