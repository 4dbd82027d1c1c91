package graft

/** Local smoke runner for the driver's entry-point check: builds the
  * flagship query on sf0.001 and asserts it returns rows. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = Session.local()
    val df = SparkEntry.entry(spark)
    val n = df.count()
    println(s"ENTRY_ROWS=$n")
    df.show(5, truncate = false)
    require(n > 0, "entry returned no rows")
    spark.stop()
  }
}
