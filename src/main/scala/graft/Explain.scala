package graft
/** Dev tool: dump formatted plans for every SparkEntry query. */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val only = if (args.length > 1) Some(args(1)) else None
    val spark = GraftSession()
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter(q => only.forall(q._1.contains))
      .foreach { case (name, fn) =>
        println(s"\n===== $name =====")
        try fn(spark, sfDir).explain("formatted")
        catch { case e: Throwable => println(s"explain failed: $e") }
      }
    spark.stop()
  }
}
