package graft

import org.apache.spark.sql.SparkSession

/** The one session contract every graft entry point builds on (Verify,
  * Bench, StreamBench, ScaleProbe, ExplainQuery and the test sessions):
  *
  *  - `local[cores]` with `cores` shuffle partitions;
  *  - UTC session time zone — the NTZ cast in [[Tables]] and every
  *    day-bucket (`floorDiv(time, 86400)`) assume it;
  *  - `spark.sql.legacy.parquet.nanosAsLong` for the TIMESTAMP(NANOS)
  *    encoding of `events.ts` (see [[Tables]]);
  *  - the UI off;
  *  - the RocksDB state store. Every stateful streaming operator in graft
  *    is `transformWithState`, which needs a multi-column-family store;
  *    the HDFS-backed default cannot run any of them. Setting it here
  *    instead of around each streaming query means no call site saves,
  *    sets and restores the provider (and none can restore it wrong).
  *
  * Callers add what is theirs (app name, AQE, local dirs) to the
  * returned builder before `getOrCreate()`.
  */
object GraftSession {

  val RocksDBProvider =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  def builder(cores: String): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.streaming.stateStore.providerClass", RocksDBProvider)
}
