package graft

/** Flagship smoke: runs [[SparkEntry.entry]] (driver checks rows > 0). */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = Sessions.querySuite(4, "ERROR")
    val df = SparkEntry.entry(spark)
    println(s"ENTRY_ROWS=${df.count()}")
    df.show(5)
    spark.stop()
  }
}
