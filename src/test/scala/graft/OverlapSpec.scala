package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.tools.Overlap

class OverlapSpec extends AnyFunSuite {

  test("typed arities return each leg's result in its own type") {
    val (n, s) = Overlap.concurrently2(() => 41 + 1, () => "leg")
    assert(n == 42 && s == "leg")
    val (a, b, c) = Overlap.concurrently3(() => 1L, () => true,
      () => Seq(3))
    assert((a, b, c) == ((1L, true, Seq(3))))
  }

  test("a failing leg rethrows its own exception") {
    val e = intercept[IllegalStateException](Overlap.concurrently2(
      () => throw new IllegalStateException("boom"), () => 1))
    assert(e.getMessage == "boom")
  }
}
