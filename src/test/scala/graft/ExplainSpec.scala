package graft

import org.scalatest.funsuite.AnyFunSuite

/** [[Explain.normalize]] over plan text alone: two runs of one tree
  * print the same plan once run-dependent ids are stripped.
  */
class ExplainSpec extends AnyFunSuite {

  private val run1 =
    """(1) Scan ExistingRDD [codegen id : 3]
      |Output [2]: [vec_id#608L, q#609]
      |Arguments: [vec_id#608L, q#609], MapPartitionsRDD[608] at toDF, ExistingRDD, UnknownPartitioning(0)
      |(2) Project [plan_id=1234]
      |Arguments: graft.Foo$$$Lambda$1234/0x00007f3c0c4a1b28@5e2a1b9c""".stripMargin

  private val run2 =
    """(1) Scan ExistingRDD [codegen id : 4]
      |Output [2]: [vec_id#9L, q#10]
      |Arguments: [vec_id#9L, q#10], MapPartitionsRDD[609] at toDF, ExistingRDD, UnknownPartitioning(0)
      |(2) Project [plan_id=77]
      |Arguments: graft.Foo$$$Lambda$1301/0x00007f3c0c4d2e40@17c3a0ff""".stripMargin

  test("plans differing only in RDD ids and lambda names normalize equal") {
    assert(run1 != run2)
    assert(Explain.normalize(run1) == Explain.normalize(run2))
    assert(!Explain.normalize(run1).contains("608") &&
      !Explain.normalize(run1).contains("0x00007f"))
  }

  test("a real operator change still differs after normalization") {
    val changed = run2.replace("(2) Project", "(2) Filter")
    assert(Explain.normalize(run1) != Explain.normalize(changed))
  }
}
