package graft

/** Dev smoke runner mirroring the driver's t1 check: `SparkEntry.entry`
  * on sf0.001 must return >0 rows. `sbt "runMain graft.Smoke"`.
  */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.start(4)
    val df = SparkEntry.entry(spark)
    println(s"ENTRY_ROWS=${df.count()}")
    df.show(5, truncate = false)
    spark.stop()
  }
}
