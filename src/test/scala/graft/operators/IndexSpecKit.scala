package graft.operators

import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.{Await, Promise}
import scala.concurrent.duration._

import org.apache.hadoop.fs.Path
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** What the maintained-index specs share: counting the Spark jobs of a
  * call, and dropping a band lineage a spec created.
  */
object IndexSpecKit {

  /** The Spark jobs `body` runs, counted by a listener on the call's own
    * job group. A marker job in a second group is the synchronization
    * point: the bus delivers events in order, so once the listener sees
    * the marker start it has seen every job of the call.
    */
  def jobsOf(spark: SparkSession)(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"jobs-of-${System.nanoTime()}"
    val jobs = new AtomicInteger
    val marker = Promise[Unit]()
    val l = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val g = Option(js.properties).map(_.getProperty("spark.jobGroup.id")).orNull
        if (g == group) jobs.incrementAndGet()
        if (g == s"$group-marker") marker.trySuccess(())
      }
    }
    sc.addSparkListener(l)
    try {
      sc.setJobGroup(group, "counted call")
      try body finally sc.clearJobGroup()
      sc.setJobGroup(s"$group-marker", "listener-bus marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      Await.result(marker.future, 60.seconds)
    } finally sc.removeSparkListener(l)
    jobs.get
  }

  /** Drop band lineage `prefix`: unregister its tables (every generation
    * pair this session registered), then delete its root directory (the
    * log and every generation) and its lease.
    */
  def dropBandLineage(spark: SparkSession, prefix: String): Unit = {
    Seq("bands", "sigs").foreach { f =>
      spark.sessionState.catalog.listTables("default", s"${prefix}_$f*").map(_.table)
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS `$t`"))
    }
    val root = Dedup.bandLog(spark, prefix).root
    val fs = IndexLog.fsOf(spark, root)
    fs.delete(new Path(root), true)
    fs.delete(WriterLease.lockPathFor(root), true)
    ()
  }
}
