package graft
object EntrySmoke {
  def main(args: Array[String]): Unit = {
    val spark = graft.util.Session.local(4)
    println(s"[entry] rows=${SparkEntry.entry(spark).count()}")
    spark.stop()
  }
}
