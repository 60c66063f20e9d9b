package graft

/** Local replica of the driver's t1 smoke: run SparkEntry.entry on sf0.001
  * and require rows > 0. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = Session.local(Session.cpus)
    val df = SparkEntry.entry(spark)
    val n = df.count()
    df.show(5, truncate = false)
    println(s"ENTRY_ROWS=$n")
    assert(n > 0, "entry returned no rows")
    spark.stop()
  }
}
