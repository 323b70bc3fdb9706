package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The tuning surface stays small and documented: the keys read through
  * `SysProps.int/long("…")` and `getOption("spark.graft.…")` in `src/main`
  * are exactly the README's six knobs, so a new knob shows up as an edit
  * here. */
class KnobsSpec extends AnyFunSuite {

  private val documented = Set(
    "graft.manifest.cache.entries",
    "graft.manifest.read.parallelism",
    "graft.fuzzy.symdelete.maxlen",
    "graft.temperature.inline.strata.max",
    "graft.ivf.inline.longs.max",
    "spark.graft.delete.broadcast-threshold")

  private val reads = Seq(
    """SysProps\.(?:int|long)\(\s*"([^"]+)"""".r,
    """getOption\(\s*"(spark\.graft\.[^"]+)"""".r)

  private def keysIn(root: String): Set[String] = {
    val files = Files.walk(Paths.get(root)).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    files.flatMap { f =>
      val src = new String(Files.readAllBytes(f), "UTF-8")
      reads.flatMap(_.findAllMatchIn(src).map(_.group(1)))
    }.toSet
  }

  test("src/main reads exactly the six documented knobs") {
    val found = keysIn("src/main/scala")
    assert((found -- documented).isEmpty,
      s"undocumented knob(s): ${(found -- documented).toSeq.sorted.mkString(", ")}")
    assert((documented -- found).isEmpty,
      s"documented but no longer read: ${(documented -- found).toSeq.sorted.mkString(", ")}")
  }

  test("the README documents each knob") {
    val readme = new String(Files.readAllBytes(Paths.get("README.md")), "UTF-8")
    documented.foreach(k => assert(readme.contains(s"`$k`"), s"$k is missing from README.md"))
  }
}
