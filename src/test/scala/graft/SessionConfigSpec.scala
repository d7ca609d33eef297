package graft

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Pins the one-session-path invariant over the main sources: every entry
  * point takes its SparkSession from [[GraftSession]], so the config
  * Verify checks is the config Bench times and users run, and the
  * retired tuning knobs stay retired. */
class SessionConfigSpec extends AnyFunSuite {

  private lazy val sources: Seq[(Path, String)] = {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the project root (cwd ${Paths.get("").toAbsolutePath})")
    val walk = Files.walk(root)
    try walk.iterator.asScala.filter(_.toString.endsWith(".scala"))
      .map(p => p -> Files.readString(p)).toList
    finally walk.close()
  }

  test("SparkSession.builder appears only in GraftSession.scala") {
    val builders = sources.collect {
      case (p, text) if text.contains("SparkSession.builder") => p.getFileName.toString
    }
    assert(builders == Seq("GraftSession.scala"))
  }

  test("no source reads a retired tuning knob") {
    val knobs = Seq("SPARK_GRAFT_LOCAL_DIR", "SPARK_GRAFT_PREFER_SMJ",
      "SPARK_GRAFT_STREAM_PARTITIONS")
    val readers = for ((p, text) <- sources; k <- knobs if text.contains(k)) yield s"$p: $k"
    assert(readers.isEmpty)
  }
}
