package graft

import org.apache.spark.SparkConf
import org.apache.spark.sql.SparkSession

import graft.streaming.LocalCheckpointFileManager

/** Session factory with the engine's standard configuration.
  *
  * Tuned for correctness parity with the DuckDB oracle (UTC, ANSI off for
  * permissive casts) and for scale (AQE with coalesce + skew-join handling;
  * shuffle partitions sized to local cores — on a real cluster this is set
  * per-deployment, AQE coalesces down from a high initial number).
  */
object GraftSession {
  /** Streaming confs of every graft session, specs included: checkpoint
    * files on `file:` paths go through `java.nio` instead of Hadoop's
    * forking `LocalFileSystem` (other schemes keep Spark's default).
    */
  val streamingConf: Map[String, String] = Map(
    LocalCheckpointFileManager.ConfKey -> classOf[LocalCheckpointFileManager].getName)

  def getOrCreate(
      master: String = "local[32]",
      shufflePartitions: Int = 32
  ): SparkSession = {
    // a spark-submit --conf or -Dspark.* setting of the same key wins
    val submitted = new SparkConf()
    val spark = SparkSession
      .builder()
      .master(master)
      .appName("graft")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", (64L * 1024 * 1024).toString)
      .config("spark.sql.parquet.filterPushdown", "true")
      .config("spark.ui.enabled", "false")
      .config(streamingConf.map { case (k, v) => k -> submitted.get(k, v) })
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
