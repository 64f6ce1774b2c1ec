package graft.queries

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The scratch state of one run of a table-backed query — the batch-form
  * replay of the reference's event store and state tables: a salted name
  * prefix for the run's catalog tables and a fresh temp dir for their
  * files. The salt keeps two harness processes on one box (bench + verify)
  * from sharing a table or a path.
  */
private[graft] final class Scratch private (prefix: String, dir: String) {

  /** The catalog table `name` of this run. */
  def table(name: String): String = s"${prefix}_$name"

  /** The path `name` under this run's dir. */
  def path(name: String): String = s"$dir/$name"
}

private[graft] object Scratch {

  /** Run `body` on a fresh scratch and materialize its result once
    * (`localCheckpoint(true)`), so the frame outlives the cleanup. Then
    * drop every catalog table whose name starts with the run's prefix —
    * companions such as `<table>_centroids` included — and delete the dir.
    * A cleanup error never masks an exception thrown by `body`.
    */
  def apply(spark: SparkSession)(body: Scratch => DataFrame): DataFrame = {
    val prefix = "graft_scratch_" +
      java.util.UUID.randomUUID.toString.replace("-", "").take(12)
    val dir = java.nio.file.Files.createTempDirectory(prefix).toString
    def cleanup(): Unit = {
      val catalog = spark.sessionState.catalog
      val at = new Path(dir)
      try catalog.listTables(catalog.getCurrentDatabase)
        .filter(_.table.startsWith(prefix))
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS ${t.quotedString}"))
      finally at.getFileSystem(spark.sessionState.newHadoopConf()).delete(at, true)
    }
    val out =
      try body(new Scratch(prefix, dir)).localCheckpoint(true)
      catch { case t: Throwable =>
        try cleanup() catch { case c: Throwable => t.addSuppressed(c) }
        throw t
      }
    cleanup()
    out
  }
}
