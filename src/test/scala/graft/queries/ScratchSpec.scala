package graft.queries

import java.io.File

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

class ScratchSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** Writes catalog table `t` at `path`, as a query's operator would. */
  private def create(t: String, path: String): Unit =
    spark.range(3).write.option("path", path).saveAsTable(t)

  test("a body that creates two prefixed tables and then throws leaves no " +
      "table and no dir behind, and the caller sees the body's exception") {
    var tables = Seq.empty[String]
    var dir: File = null
    val boom = new IllegalStateException("body failed")
    val seen = intercept[IllegalStateException] {
      Scratch(spark) { sc =>
        // the second is a companion named after the first, like an IVF
        // index's `<table>_centroids`
        tables = Seq(sc.table("idx"), s"${sc.table("idx")}_centroids")
        tables.foreach(t => create(t, sc.path(t)))
        dir = new File(sc.path("idx")).getParentFile
        assert(tables.forall(spark.catalog.tableExists) && dir.isDirectory)
        throw boom
      }
    }
    assert(seen eq boom)
    assert(tables.nonEmpty && tables.forall(!spark.catalog.tableExists(_)))
    assert(!dir.exists)
  }

  test("the result frame outlives the cleanup of the tables it read") {
    var table = ""
    val out = Scratch(spark) { sc =>
      table = sc.table("state")
      create(table, sc.path("state"))
      spark.table(table)
    }
    assert(!spark.catalog.tableExists(table))
    assert(out.collect().map(_.getLong(0)).sorted.toSeq == Seq(0L, 1L, 2L))
  }
}
