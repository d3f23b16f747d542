package graft.tools

import org.scalatest.funspec.AnyFunSpec
import org.scalatest.matchers.should.Matchers

class StageProfileSpec extends AnyFunSpec with Matchers {

  // the pattern perfbench's crosscheck parses `[profile]` lines with
  private val Parsed = """\[profile\] (\S+) .*?jobs=(\d+) stages=(\d+) tasks=(\d+)""".r

  describe("StageProfile.line") {
    it("prints one sample's counts as before") {
      val l = StageProfile.line("q36_x", Seq((1.25, 8, 12, 40, 900L)))
      l shouldBe "[profile] q36_x min=1.250s jobs=8 stages=12 tasks=40 " +
        "taskTimeMs=900 runs=1.25"
      Parsed.findFirstMatchIn(l).map(m => (1 to 4).map(m.group)) shouldBe
        Some(Seq("q36_x", "8", "12", "40"))
    }
    it("adds every sample's counts only when the samples disagree") {
      val agree = StageProfile.line("q", Seq(
        (2.0, 8, 12, 40, 1000L), (1.5, 8, 12, 40, 900L)))
      agree should not include "counts="
      val differ = StageProfile.line("q", Seq(
        (2.0, 10, 14, 50, 1000L), (1.5, 8, 12, 40, 900L), (1.6, 8, 12, 40, 910L)))
      differ shouldBe "[profile] q min=1.500s jobs=8 stages=12 tasks=40 " +
        "taskTimeMs=900 runs=2.00,1.50,1.60 counts=10/14/50,8/12/40,8/12/40"
      Parsed.findFirstMatchIn(differ).map(_.group(2)) shouldBe Some("8")
    }
  }
}
