package graft.sources

import java.io.FileNotFoundException

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Driver-side path resolution for the file readers. `spark.read` given
  * a glob probes it as a streaming-sink directory first, and that probe
  * logs a WARN with a FileNotFoundException stack trace per read; handed
  * concrete paths, it reads quietly.
  */
object Globs {

  /** The paths each pattern matches (a plain path matches itself), in
    * pattern order; a pattern that matches nothing fails, naming it.
    */
  def resolve(spark: SparkSession, patterns: Seq[String]): Seq[String] =
    patterns.flatMap { p =>
      val path = new Path(p)
      val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val hits = Option(fs.globStatus(path)).getOrElse(Array.empty)
      if (hits.isEmpty) throw new FileNotFoundException(s"no file matches '$p'")
      hits.map(_.getPath.toString).toSeq
    }
}
