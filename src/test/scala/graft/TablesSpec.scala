package graft

import java.nio.file.{Files, Path, StandardCopyOption}
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

class TablesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** Write `df` as the single parquet file `<dir>/<name>.parquet`, the
    * testdata layout, replacing any earlier version of it. */
  private def writeTable(df: DataFrame, dir: Path, name: String): Unit = {
    val staging = Files.createTempDirectory("tables-staging")
    df.coalesce(1).write.mode("overwrite").parquet(staging.resolve("t").toString)
    val part = Files.list(staging.resolve("t")).filter(
      _.getFileName.toString.endsWith(".parquet")).findFirst().get()
    Files.move(part, dir.resolve(s"$name.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
  }

  test("a table rewritten with a new column is read with its new schema") {
    import spark.implicits._
    val dir = Files.createTempDirectory("tables")
    writeTable(Seq((1L, "a"), (2L, "b")).toDF("id", "tag"), dir, "t")
    assert(Tables(spark, dir.toString, "t").columns.toSeq === Seq("id", "tag"))

    writeTable(Seq((1L, "a", 10L), (2L, "b", 20L)).toDF("id", "tag", "extra"),
      dir, "t")
    val reread = Tables(spark, dir.toString, "t")
    assert(reread.columns.toSeq === Seq("id", "tag", "extra"))
    assert(reread.orderBy("id").select("extra").as[Long].collect().toSeq
      === Seq(10L, 20L))
  }
}
