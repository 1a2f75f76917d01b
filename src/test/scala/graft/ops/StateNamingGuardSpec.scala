package graft.ops

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Tooling guard: state naming has one home. The source-dir tag is
  * rendered only by [[StateGc.tagOf]] and the warehouse root is read
  * only by [[StateTable.warehouseRoot]]; a copy anywhere else in
  * `src/main/scala` fails here instead of drifting from the declaration. */
class StateNamingGuardSpec extends AnyFunSuite {

  /** (file, 1-based line, line) of every code line containing `needle`. */
  private def occurrences(needle: String): Seq[(String, Int, String)] = {
    val root = Paths.get("src/main/scala")
    assume(Files.isDirectory(root), "main sources not present")
    val files = Files.walk(root)
    try files.iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq.flatMap { f =>
      Files.readAllLines(f).asScala.zipWithIndex.collect {
        case (line, i) if line.contains(needle) &&
            !line.trim.startsWith("*") && !line.trim.startsWith("//") =>
          (root.relativize(f).toString, i + 1, line)
      }
    } finally files.close()
  }

  /** The line's enclosing def is `defName`: the nearest `def` at or above it. */
  private def insideDef(file: String, line: Int, defName: String): Boolean = {
    val lines = Files.readAllLines(Paths.get("src/main/scala", file)).asScala
    lines.take(line).reverse.find(_.trim.matches("""(private.*\s)?def\s.*"""))
      .exists(_.contains(s"def $defName"))
  }

  test("the source-dir tag regex appears only in StateGc.tagOf") {
    val hits = occurrences("[^A-Za-z0-9]+")
    assert(hits.nonEmpty)
    val stray = hits.filterNot { case (f, l, _) =>
      f.endsWith("ops/StateGc.scala") && insideDef(f, l, "tagOf")
    }
    assert(stray.isEmpty, stray.map { case (f, l, _) => s"$f:$l" }.mkString(", "))
  }

  test("spark.sql.warehouse.dir is read only in StateTable.warehouseRoot") {
    val hits = occurrences("spark.sql.warehouse.dir") ++ occurrences("WAREHOUSE_PATH")
    assert(hits.nonEmpty)
    val stray = hits.filterNot { case (f, l, _) =>
      f.endsWith("ops/StateTable.scala") && insideDef(f, l, "warehouseRoot")
    }
    assert(stray.isEmpty, stray.map { case (f, l, _) => s"$f:$l" }.mkString(", "))
  }
}
