package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** The `Explain --audit` plan census reads the final plan of every SQL
  * execution a query runs, not only its action's plan: an eager
  * checkpoint round during construction is a SQL execution of its own,
  * and the action then merely scans the checkpointed block. */
class AuditCensusSpec extends AnyFunSuite with SparkTestBase {

  test("census counts an NLJ that only an eager checkpoint round executes") {
    import spark.implicits._
    val one = Seq(1L).toDF("k") // 1-row side: a broadcast nested-loop join
    var cp: DataFrame = null
    val (build, buildErr) = Telemetry.measure(spark) {
      cp = Checkpoints.checkpoint(spark.range(8).crossJoin(one))
    }
    val (action, actionErr) = Telemetry.measure(spark) {
      cp.write.format("noop").mode("overwrite").save()
    }
    Checkpoints.release(cp)
    assert(buildErr.isEmpty && actionErr.isEmpty)
    assert(build.jobs.get > 0, "the checkpoint round ran no job")
    assert(build.census("nlj") == 1, "construction census")
    assert(action.census("nlj") == 0, "action census")
  }

  test("census counts shuffle exchanges once, not per reuse") {
    import org.apache.spark.sql.functions.col
    val (c, err) = Telemetry.measure(spark) {
      val agg = spark.range(64).repartition(4, col("id"))
        .groupBy(col("id") % 3 as "g").count()
      // the same aggregate on both sides: AQE reuses its exchange
      agg.join(agg.withColumnRenamed("count", "c2"), "g")
        .write.format("noop").mode("overwrite").save()
    }
    assert(err.isEmpty)
    // the repartition and the aggregate exchange; the join's second
    // side is a ReusedExchange of the first and adds none
    assert(c.census("shuffles") == 2)
  }

  test("a subset audit writes its own file unless GRAFT_AUDIT_OUT is set") {
    assert(Explain.auditOut(None, subset = false) == "AUDIT.json")
    assert(Explain.auditOut(None, subset = true) == "AUDIT_subset.json")
    assert(Explain.auditOut(Some("/tmp/a.json"), subset = true) == "/tmp/a.json")
    assert(Explain.auditOut(Some("/tmp/a.json"), subset = false) == "/tmp/a.json")
  }
}
