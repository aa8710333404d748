package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Test/benchmark table access over the driver-generated parquet dirs.
  *
  * The reference loads everything through `PigStorage`-style loaders
  * (reference: sparklib/src/main/scala/dbis/piglet/backends/spark/Storage.scala);
  * graft goes straight to Spark's vectorized parquet reader so column
  * pruning and predicate pushdown reach the scan.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def apply(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    val df = spark.read.parquet(s"$sfDir/$name.parquet")
    // Timestamp normalization — the driver's generator has shipped two
    // physical encodings across rounds, and downstream operators expect a
    // plain TimestampType either way:
    //  * TIMESTAMP(NANOS) parquet → Spark reads raw nanos longs (the
    //    nanosAsLong conf, which GraftSession sets);
    //  * timestamp[us] with isAdjustedToUTC=false → Spark 4 infers
    //    TIMESTAMP_NTZ, which unix_micros/watermarks reject.
    // GraftSession pins spark.sql.session.timeZone=UTC, so the
    // NTZ→TZ cast is value-preserving.
    df.schema.fields.foldLeft(df) { (d, f) =>
      if (f.name == "ts" && f.dataType == LongType)
        // integral div: nano epochs exceed double's 2^53 exact range, so
        // `/` (double divide) can be off by a microsecond
        d.withColumn("ts", org.apache.spark.sql.functions.timestamp_micros(
          org.apache.spark.sql.functions.expr("ts div 1000")))
      else if (f.dataType == TimestampNTZType)
        d.withColumn(f.name, d(f.name).cast(TimestampType))
      else d
    }
  }

  /** Register every table as a temp view (for spark.sql / PigScript use). */
  def registerAll(spark: SparkSession, sfDir: String): Unit =
    names.foreach(n => apply(spark, sfDir, n).createOrReplaceTempView(n))
}
