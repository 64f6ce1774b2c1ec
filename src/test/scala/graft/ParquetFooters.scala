package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile

/** What a parquet tree's footers say about how its files were written. */
object ParquetFooters {

  /** Every parquet data file under `root` (relative path) → the codecs of
    * its column chunks, read from the file's footer (e.g. `Set("ZSTD")`).
    */
  def codecs(root: String): Map[String, Set[String]] = {
    val base = Paths.get(root)
    val walk = Files.walk(base)
    val files = try walk.iterator().asScala.filter { p =>
        Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet")
      }.toList
      finally walk.close()
    val conf = new Configuration()
    files.map { f =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(f.toUri), conf))
      val codecs = try reader.getFooter.getBlocks.asScala
          .flatMap(_.getColumns.asScala.map(_.getCodec.name)).toSet
        finally reader.close()
      base.relativize(f).toString -> codecs
    }.toMap
  }
}
