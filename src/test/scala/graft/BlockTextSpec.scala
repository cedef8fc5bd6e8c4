package graft

import graft.sources.{BlockText, NBody6}
import org.scalatest.funsuite.AnyFunSuite

/** The block reader's input checks: a malformed file fails with a
  * message naming the fault instead of yielding shifted blocks.
  */
class BlockTextSpec extends AnyFunSuite {

  test("a trailing header cut short fails as an incomplete header") {
    // OUT9 headers span 3 lines; the second block stops after 2
    val text = Seq(
      "# h 1.0 1 filler", "# filler2", "# filler3",
      "a b c 0.3 0.05 1.2 1.6 1.7 11 12 0 0 0 10",
      "# h 2.0 1 filler", "# filler2").mkString("\n")
    val e = intercept[IllegalArgumentException] {
      BlockText.blocks(text, NBody6.OUT9).toList
    }
    assert(e.getMessage == "Incomplete header at end of file.")
  }

  test("a data line before the first header fails naming that line") {
    val text = Seq(
      "  0.3 -0.2 0.1 0.1 -0.1 0.05 0.6 1 1  ",
      "# 0 0 0 0 0 12 0 12.5 1.5 2.0 10.0").mkString("\n")
    val e = intercept[IllegalArgumentException] {
      BlockText.blocks(text, NBody6.OUT34).toList
    }
    assert(e.getMessage ==
      "Expected a header line, got: '0.3 -0.2 0.1 0.1 -0.1 0.05 0.6 1 1'")
  }
}
