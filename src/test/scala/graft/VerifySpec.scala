package graft

import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers

/** Verify's missing-output check, without a SparkSession. */
class VerifySpec extends AnyFlatSpec with Matchers {

  behavior of "Verify.silentGates"

  it should "name the gates with neither a dump nor an error, in order" in {
    Verify.silentGates(Seq("a", "b", "c", "d"), dumped = Set("a"),
      failed = Set("c")) shouldBe Seq("b", "d")
  }

  it should "name none when every gate dumped or failed" in {
    Verify.silentGates(Seq("a", "b"), dumped = Set("a", "b"),
      failed = Set("b")) shouldBe empty
    Verify.silentGates(Nil, Set.empty, Set.empty) shouldBe empty
  }
}
