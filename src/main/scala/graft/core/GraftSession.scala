package graft.core

import org.apache.spark.sql.SparkSession

import graft.streaming.NioCheckpointFileManager

/** The one way to get a graft session. Every operator compiles into one
  * Catalyst plan, so the session conf is part of the engine: Bench,
  * Verify, the specs and the tool harnesses all run under this posture.
  */
object GraftSession {
  /** `SPARK_GRAFT_CPUS`, or every core the JVM may use when it is unset. */
  lazy val defaultCores: Int = sys.env.get("SPARK_GRAFT_CPUS")
    .map(_.trim.toInt).getOrElse(Runtime.getRuntime.availableProcessors())

  /** A `local[cores]` session. The session is JVM-wide: once one exists,
    * later calls return it unchanged, whatever `cores` they pass. */
  def local(cores: Int = defaultCores): SparkSession =
    SparkSession.getDefaultSession.getOrElse {
      val spark = SparkSession.builder()
        .master(s"local[$cores]")
        .appName("graft")
        // sized to cores, not the 200 default that would fragment local
        // runs; a cluster deployment overrides it
        .config("spark.sql.shuffle.partitions", cores.toString)
        // Tables turns TIMESTAMP(NANOS) columns into timestamps from the
        // raw nanos longs this conf exposes
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        // local-scheme checkpoints run through fork-free NIO I/O; remote
        // schemes delegate to the stock Hadoop manager (see the class doc)
        .config(NioCheckpointFileManager.ConfKey,
          NioCheckpointFileManager.ConfValue)
        // let AQE re-plan INSIDE cached plans: persisted intermediates
        // otherwise pin tiny tables at the full shuffle-partition count,
        // and every later pass re-schedules those near-empty tasks
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
          "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
      spark.sparkContext.setLogLevel("WARN")
      spark
    }
}
