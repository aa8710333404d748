package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import graft.core.GraftSession
import graft.streaming.NioCheckpointFileManager

/** The engine posture every graft session carries, and the guard that
  * keeps GraftSession the only place a session is built. */
class GraftSessionSpec extends SparkSpec {

  test("the shared spec session carries the graft posture") {
    val conf = spark.conf
    assert(conf.get(NioCheckpointFileManager.ConfKey) ==
      NioCheckpointFileManager.ConfValue)
    assert(conf.get(
      "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning") == "true")
    assert(conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(conf.get("spark.sql.session.timeZone") == "UTC")
    assert(conf.get("spark.sql.shuffle.partitions") == "4")
    assert(spark.sparkContext.master == "local[4]")
  }

  test("a second GraftSession.local call returns the same session") {
    assert(GraftSession.local(4) eq spark)
    assert(GraftSession.local() eq spark)
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
  }

  test("no session is built outside GraftSession") {
    val builderCall = ("SparkSession" + """\s*\.\s*[bB]uilder\b""").r
    val allowed = Paths.get("src/main/scala/graft/core/GraftSession.scala")
    def scalaFiles(root: String): Seq[Path] = {
      val walk = Files.walk(Paths.get(root))
      try walk.iterator().asScala
        .filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    }
    val sources = scalaFiles("src/main") ++ scalaFiles("src/test")
    assert(sources.contains(allowed))
    val offenders = sources.filter(p => p != allowed &&
      builderCall.findFirstIn(Files.readString(p)).isDefined)
    assert(offenders.isEmpty,
      s"build sessions with graft.core.GraftSession.local: $offenders")
  }
}
