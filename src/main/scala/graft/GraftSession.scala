package graft

import org.apache.logging.log4j.Level
import org.apache.logging.log4j.core.config.Configurator
import org.apache.spark.sql.SparkSession

/** The one way graft builds a session: `local[cores]` with as many
  * shuffle partitions, UTC, nanos-as-long parquet, no UI, and
  * [[graft.plans.GraftExtensions]], which installs every native
  * expression — operators register nothing themselves. */
object GraftSession {
  def apply(cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // A glob-path batch read logs a benign FileNotFoundException stack
    // per read, and every deliberately global window (O(K)-bounded:
    // post-limit vocab rank, 256-row bucket offsets) warns "No Partition
    // Defined"; both would drown real signal in a bounded output tail.
    Configurator.setLevel(
      "org.apache.spark.sql.execution.streaming.sinks.FileStreamSink", Level.ERROR)
    Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec", Level.ERROR)
    spark
  }

  /** Cores for a main: `SPARK_GRAFT_CPUS`, else every available core. */
  def mainCores: Int = sys.env.get("SPARK_GRAFT_CPUS")
    .fold(Runtime.getRuntime.availableProcessors)(_.trim.toInt)
}
