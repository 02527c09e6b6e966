package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Pins the one session configuration (Sessions.local) every graft main
  * and spec runs under: the oracle-verified, tested and profiled plans
  * are the timed ones only while no main builds its own session.
  */
class SessionSpec extends SparkSpec {

  test("the shared session carries every invariant key, partitions = cpus") {
    val c = spark.sessionState.conf
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") === "true")
    assert(c.sessionLocalTimeZone === "UTC")
    assert(c.ansiEnabled)
    assert(spark.conf.get(
      "spark.sql.adaptive.coalescePartitions.parallelismFirst") === "false")
    assert(c.autoBroadcastJoinThreshold === 64L * 1024 * 1024)
    assert(c.numShufflePartitions === 4)
    assert(spark.sparkContext.master === "local[4]")
  }

  test("the factory is the only session builder under src/") {
    // split so this file holds no match of its own
    val builder = ("SparkSession" + "\\.builder").r
    val hits = Files.walk(Paths.get("src")).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .flatMap(p => builder.findAllMatchIn(Files.readString(p)).map(_ => p.toString))
      .toSeq
    assert(hits === Seq(Paths.get("src/main/scala/graft/Sessions.scala").toString))
  }
}
