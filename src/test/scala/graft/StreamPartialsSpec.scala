package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.Streaming

/** q92 reads back its per-micro-batch partials from `parts/batch=<id>`
  * directories; the frame must have exactly the partial schema, with no
  * `batch` column from partition discovery. */
class StreamPartialsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[2]")
      .appName("stream-partials-spec")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("partials under parts/batch=<id> read with exactly the partial schema") {
    val s = spark
    import s.implicits._
    val parts = Files.createTempDirectory("q92-parts").resolve("parts").toString
    Seq((1L, 2L, BigDecimal("1.5")), (2L, 1L, BigDecimal("0.25"))).toDF("signup_id", "n_purch", "sv")
      .write.parquet(s"$parts/batch=0")
    Seq((1L, 1L, BigDecimal("2.0"))).toDF("signup_id", "n_purch", "sv")
      .write.parquet(s"$parts/batch=1")
    val schema = StructType(Seq(StructField("signup_id", LongType),
      StructField("n_purch", LongType), StructField("sv", DecimalType(38, 18))))
    val df = Streaming.readPartials(spark, parts, schema)
    assert(df.schema == schema, df.schema.treeString)
    assert(df.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq ==
      Seq((1L, 1L), (1L, 2L), (2L, 1L)))
  }
}
