package graft.operators

import java.util.concurrent.atomic.AtomicBoolean

import graft.SparkTestBase

class ParSpec extends SparkTestBase {

  test("results come back in input order, whatever order the thunks finish in") {
    val thunks = (0 until 6).map(i => () => { Thread.sleep((6 - i) * 20L); i * 10 })
    assert(Par.run(thunks) === (0 until 6).map(_ * 10))
  }

  test("a failure is rethrown only after every other thunk has finished") {
    val boom = new IllegalStateException("thunk 0 failed")
    val siblingDone = new AtomicBoolean(false)
    val thrown = intercept[IllegalStateException] {
      Par.run(Seq[() => Unit](
        () => throw boom,
        () => { Thread.sleep(300); siblingDone.set(true) }))
    }
    assert(thrown eq boom, "the original exception, unwrapped")
    assert(siblingDone.get, "run() threw while a sibling thunk was still running")
  }

  test("pool threads see the caller's Spark job description") {
    val sc = spark.sparkContext
    sc.setJobDescription("par caller")
    try {
      val seen = Par.run(Seq.fill(3)(() => sc.getLocalProperty("spark.job.description")))
      assert(seen === Seq.fill(3)("par caller"))
    } finally sc.setJobDescription(null)
  }
}
