package graft

import java.nio.file.{Files, Path, Paths}

import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** Every setting the engine reads lives in ONE namespace,
  * `spark.graft.*` (so `spark-submit --conf` passes it through), and
  * every one is documented in the README settings table. The scan
  * covers `src/main/scala`: string literals in the engine's namespace
  * (any literal containing `graft.` — class names such as
  * `graft.functions.GraftExtensions` and the `graft.dml` accumulator
  * name excepted) and every literal key handed straight to a session
  * conf getter or setter. */
class KnobInventorySpec extends AnyFunSuite {

  private val mainDir = Paths.get("src/main/scala")
  private val readme = Paths.get("README.md")

  /** Literal names in the namespace that are not conf keys. */
  private val notKeys = Set("graft.dml")

  private def sources: Seq[(Path, String)] = {
    val walk = Files.walk(mainDir)
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toVector
      .map(p => p -> new String(Files.readAllBytes(p), "UTF-8"))
    finally walk.close()
  }

  /** (file, key) for every conf-key literal in `src/main/scala`. */
  private def keysInCode: Seq[(Path, String)] = {
    val namespaced = "\"([A-Za-z0-9_.]*graft\\.[A-Za-z0-9_.]+)\"".r
    val confArg =
      "conf\\s*\\.\\s*(?:get|getOption|set|unset)\\(\\s*\"([^\"]+)\"".r
    sources.flatMap { case (p, text) =>
      val ns = namespaced.findAllMatchIn(text).map(_.group(1))
        .filterNot(k => notKeys(k) || k.split('.').last.head.isUpper)
      (ns ++ confArg.findAllMatchIn(text).map(_.group(1)))
        .map(p -> _).toSeq
    }.distinct
  }

  /** The keys of the README settings table (rows opening with a
    * backticked `spark.graft.` key). */
  private def keysInReadme: Set[String] = {
    val row = "^\\|\\s*`(spark\\.graft\\.[A-Za-z0-9_.]+)`".r
    Files.readAllLines(readme).asScala
      .flatMap(l => row.findFirstMatchIn(l).map(_.group(1))).toSet
  }

  test("every engine conf key is spark.graft.* and in the README table") {
    assert(Files.isDirectory(mainDir) && Files.isRegularFile(readme),
      s"run from the repository root (cwd ${Paths.get("").toAbsolutePath})")
    val code = keysInCode
    assert(code.nonEmpty, "the scan found no conf keys at all")
    val table = keysInReadme
    val foreign = code.filter { case (_, k) =>
      !k.startsWith("spark.") || (k.contains("graft") &&
        !k.startsWith("spark.graft."))
    }
    assert(foreign.isEmpty,
      s"conf keys outside the spark.graft.* namespace: ${foreign.mkString(", ")}")
    val undocumented = code.filter { case (_, k) =>
      k.startsWith("spark.graft.") && !table(k)
    }
    assert(undocumented.isEmpty,
      s"conf keys missing from the README table: ${undocumented.mkString(", ")}")
    val ours = code.map(_._2).filter(_.startsWith("spark.graft.")).toSet
    assert(table.subsetOf(ours),
      s"README table lists keys no code reads: ${table -- ours}")
  }
}
