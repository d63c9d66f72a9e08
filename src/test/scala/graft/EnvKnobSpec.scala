package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** The environment variables the program reads are its deployment and
  * input settings, and nothing else: an env knob added for a one-off A/B
  * fails here until this list says why it stays. */
class EnvKnobSpec extends AnyFunSuite {

  private val Kept = Set(
    "SPARK_GRAFT_CPUS", "SPARK_GRAFT_SHUFFLE_PARTITIONS", "SPARK_GRAFT_SF_DIR",
    "GRAFT_LAKE_DIR", "GRAFT_SCHEDULE_START", "GRAFT_TODAY", "GRAFT_CATCHUP",
    "GRAFT_SAMPLE")

  private val EnvRead =
    """(?:sys\.env|System\.getenv)\s*(?:\.\s*\w+\s*)?\(\s*"([A-Za-z_][A-Za-z0-9_]*)"""".r

  private def sources: Seq[Path] = {
    val walk = Files.walk(Paths.get("src/main/scala"))
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    finally walk.close()
  }

  test("src/main/scala reads exactly the kept env knobs") {
    val files = sources
    assert(files.nonEmpty, "run from the repository root")
    val found = files.flatMap { f =>
      EnvRead.findAllMatchIn(Files.readString(f)).map(_.group(1))
    }.toSet
    assert(found == Kept,
      s"added: ${(found -- Kept).toSeq.sorted}, gone: ${(Kept -- found).toSeq.sorted}")
  }

  test("every env read names its variable literally") {
    val dynamic = sources.flatMap { f =>
      """(?:sys\.env|System\.getenv)\s*(?:\.\s*\w+\s*)?\(\s*[^"\s)]""".r
        .findAllMatchIn(Files.readString(f)).map(m => s"$f: ${m.matched}")
    }
    assert(dynamic.isEmpty, dynamic)
  }
}
