package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Pins that the streaming crash-replay contract has one home: every
  * trigger runs through EpochStore.run (the only foreachBatch under
  * src/main), and no streaming store bypasses Hadoop FileSystem.
  */
class EpochStoreSpec extends SparkSpec {

  private def scalaFiles(root: String): Seq[Path] =
    Files.walk(Paths.get(root)).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq

  private def hits(root: String, needle: String): Seq[String] =
    scalaFiles(root).flatMap { p =>
      needle.r.findAllMatchIn(Files.readString(p)).map(_ => p.toString)
    }

  test("foreachBatch occurs exactly once under src/main, in EpochStore") {
    assert(hits("src/main", "foreachBatch") ===
      Seq(Paths.get("src/main/scala/graft/streaming/EpochStore.scala").toString))
  }

  test("no java.nio.file under the streaming package") {
    assert(hits("src/main/scala/graft/streaming", "java\\.nio\\.file") === Nil)
  }
}
