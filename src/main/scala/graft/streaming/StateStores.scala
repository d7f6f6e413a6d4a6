package graft.streaming

import org.apache.spark.sql.SparkSession

/** State-store provider selection for the stateful streaming operators
  * (dedup / sessions / windowed aggs / stream-stream join state).
  *
  * The default HDFS-backed provider keeps every key's state in
  * executor HEAP — fine for the parity drains, a hard wall at 100 TB
  * event volume where per-key session/index/join state outgrows memory.
  * RocksDB (bundled with Spark 4) spills state to local disk with an
  * off-heap block cache, bounded by storage not heap — the production
  * setting for large-state streams.
  *
  * Resolution order (first hit wins):
  *   1. `spark.sql.streaming.stateStore.providerClass` set on the
  *      CALLER's session (a drain harness's child session carries it
  *      over, see [[graft.Sessions.child]]);
  *   2. `SPARK_GRAFT_STATE_STORE` env: `rocksdb` shorthand or a fully
  *      qualified provider class name (bench/driver runs);
  *   3. none — Spark's default provider.
  */
private[graft] object StateStores {

  val ProviderKey = "spark.sql.streaming.stateStore.providerClass"

  val RocksDb =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  def resolveProvider(spark: SparkSession): Option[String] =
    spark.conf.getOption(ProviderKey)
      .orElse(sys.env.get("SPARK_GRAFT_STATE_STORE").map {
        case "rocksdb" => RocksDb
        case other     => other
      })
}
