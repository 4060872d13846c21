package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. A query that
  * throws is a LOUD failure: recorded in errors.json AND a non-zero
  * exit code — a broken query must never look like a merely-absent row
  * (see Harness scaladoc for the round-9 incident this encodes). */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: substring filter for a quick single-query gate
    val only = args.lift(2)
    val spark = GraftSession()
    val qs = only match {
      case Some(f) => SparkEntry.queries.filter(_._1.contains(f))
      case None => SparkEntry.queries
    }
    val errors = Harness.dumpAll(spark, qs, sfDir, outDir)
    // release the corpus-derived caches the dedup/similarity queries persisted
    graft.queries.Dedup.unpersistAll()
    graft.queries.Similarity.unpersistAll()
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => qs.contains(k) }
      .map { case (k, v) => s"${Harness.jq(k)}: ${Harness.jq(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    Harness.writeErrors(outDir, errors)
    spark.stop()
    if (errors.nonEmpty) {
      System.err.println(
        s"[verify] ${errors.size} quer${if (errors.size == 1) "y" else "ies"} FAILED: " +
          errors.keys.toSeq.sorted.mkString(", "))
      sys.exit(1)
    }
  }
}
