package graft

/** The layered record: one SQL execution per action, each with its
  * Catalyst phases, its jobs and the exchanges of its final plan. */
class RecorderSuite extends SparkSpec {

  test("record: a noop materialization is one execution with phases, jobs and its plan's exchanges") {
    val rec = Recorder.during(spark)(Recorder.materialize(
      spark.range(0, 20000, 1, 4).selectExpr("id % 7 AS k").groupBy("k").count().orderBy("k")))
    assert(rec.executions.size == 1, s"executions: ${rec.executions}")
    val ex = rec.executions.head
    assert(Set("analysis", "optimization", "planning").subsetOf(ex.phases.keySet), ex.phases)
    assert(ex.jobs.nonEmpty && ex.end >= ex.start)
    assert(ex.gapMs >= 0 && rec.driverMs >= 0)
    // Spark's own SQL status store holds the execution's final (post-AQE)
    // plan graph; each ShuffleExchangeExec in it is a node named Exchange
    val shuffles = spark.sharedState.statusStore.planGraph(ex.id).allNodes.count(_.name == "Exchange")
    assert(shuffles >= 2, s"the plan lost its exchanges: $shuffles")
    assert(ex.exchanges.size == shuffles, s"recorded ${ex.exchanges}, plan has $shuffles")
    assert(ex.exchanges.forall(x => x.bytes > 0 && x.rows > 0), ex.exchanges)
    // the JSON form Bench writes carries the same layers
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(rec.json)
    val exec = node.get("executions").get(0)
    assert(exec.get("exchanges").size == shuffles && exec.get("jobs").size == ex.jobs.size)
    assert(exec.get("phases_ms").has("planning") && node.get("jobs").size == 0)
  }

  test("record: two actions in one scope are two executions; each job belongs to exactly one") {
    val rec = Recorder.during(spark) {
      spark.range(1000).selectExpr("id % 3 AS k").groupBy("k").count().collect()
      Recorder.materialize(spark.range(1000).toDF("id").orderBy(org.apache.spark.sql.functions.col("id").desc))
    }
    assert(rec.executions.size == 2, s"executions: ${rec.executions}")
    assert(rec.executions.map(_.id).distinct.size == 2)
    rec.executions.foreach(e => assert(e.jobs.nonEmpty, s"execution ${e.id} has no job"))
    val assigned = rec.executions.flatMap(_.jobs.map(_.id))
    assert(assigned.sorted == rec.jobs.map(_.id).sorted,
      s"jobs ${rec.jobs.map(j => j.id -> j.execution)} vs assigned $assigned")
  }

  test("record: a query shape's first run compiles its classes; an identical rerun compiles none") {
    // a constant no earlier plan inlined makes the generated code new
    val k = 1000003L + (System.nanoTime() % 1000000L)
    def run() = Recorder.during(spark)(Recorder.materialize(
      spark.range(0, 1000, 1, 2).selectExpr(s"id * $k AS x").filter(s"x % 7 = ${k % 7}")))
    val first = run()
    assert(first.compiles >= 1, s"first run compiled ${first.compiles} classes")
    val second = run()
    assert(second.compiles == 0, s"identical rerun compiled ${second.compiles} classes")
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(first.json)
    assert(node.get("codegen_compiles").asLong == first.compiles)
  }
}
