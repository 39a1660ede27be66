package graft

import org.scalatest.funsuite.AnyFunSuite

class HarnessSpec extends AnyFunSuite {
  import SharedSpark.sf0001

  test("<sfDir> name[,name...]: names in place of the sfDir, or no names, fail loudly") {
    val e = intercept[IllegalArgumentException](
      Harness.sfDirAndNames("StageProfile", Array("q1,q2")))
    assert(e.getMessage.contains("got 'q1,q2'"))
    intercept[IllegalArgumentException](Harness.sfDirAndNames("QBench", Array(sf0001)))
    assert(Harness.sfDirAndNames("QBench", Array(sf0001, "q1,q2", "q3")) ==
      (sf0001, Seq("q1", "q2", "q3")))
  }
}
