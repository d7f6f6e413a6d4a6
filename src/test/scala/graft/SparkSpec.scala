package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The specs' local session: one per test JVM (the suites share one
  * forked JVM, and `getOrCreate` hands each the session the first one
  * built), from [[Sessions.local]] pinned at 4 cores.
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = Sessions.local(getClass.getSimpleName, cores = 4)

  def sf(dir: String = "sf0.001"): String = s"/root/testdata/$dir"
}
