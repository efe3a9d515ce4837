package graft

import graft.queries.Q

class RunnerSpec extends SparkSpec {

  test("a failed query is counted and never contributes to the total") {
    val good = Q("good", (s, _) => s.range(3).toDF(), None)
    val bad = Q("bad", (_, _) => { Thread.sleep(200); sys.error("boom") }, None)
    val results = Runner.run(spark, Seq(good, bad), "unused", 2)(())
    val byName = results.map(r => r.name -> r).toMap

    assert(byName("good").samples.map(_.rows) == Seq(Right(3L), Right(3L)))
    assert(!byName("good").failed)
    assert(byName("bad").failed)
    assert(byName("bad").samples.forall(_.rows.left.exists(_.contains("boom"))))
    assert(results.count(_.failed) == 1)
    // the failure took >= 200 ms per run, yet the total is the good
    // query's minimum alone
    assert(byName("bad").best >= 0.2)
    assert(Runner.total(results) == byName("good").best)
  }
}
