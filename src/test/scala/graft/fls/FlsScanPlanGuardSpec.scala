package graft.fls

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every fls read — batch scan, file stream, change feed and its stream —
  * plans row groups through ONE planner (`FlsRgPlanner.plan`) and
  * configures its reader through ONE factory method (`FlsReaderFactory`'s
  * `apply`), so a read option or a pruning rule reaches every path. The
  * source guard keeps a second planner or reader configuration from
  * returning, and keeps the one step that moves a staged data file to
  * its final name in `FlsCommit`. */
class FlsScanPlanGuardSpec extends AnyFunSuite {

  private lazy val mainSources: Map[Path, String] = {
    val root = Paths.get("src/main")
    assert(Files.isDirectory(root), s"run from the repository root: $root")
    val files = Files.walk(root)
    try files.iterator().asScala.filter(_.getFileName.toString.endsWith(".scala"))
      .map(p => p -> Files.readString(p)).toMap
    finally files.close()
  }

  /** Every `pattern` site in `src/main` as (file name, enclosing object). */
  private def sites(pattern: String): Seq[(String, String)] =
    mainSources.toSeq.flatMap { case (p, text) =>
      pattern.r.findAllMatchIn(text).map { m =>
        val owner = "(?m)^(?:final |private )*(?:object|class|case class|trait) (\\w+)".r
          .findAllMatchIn(text.substring(0, m.start)).toSeq.lastOption
          .map(_.group(1)).getOrElse("")
        (p.getFileName.toString, owner)
      }
    }

  test("FlsRgUnit is constructed only by the row-group planner") {
    assert(sites("(?<!class )\\bFlsRgUnit\\(") == Seq(("FlsConnector.scala", "FlsRgPlanner")))
  }

  test("FlsReaderFactory is constructed only by its factory method") {
    assert(sites("new FlsReaderFactory\\b") == Seq(("FlsConnector.scala", "FlsReaderFactory")))
  }

  test("a staged data file becomes visible only through FlsCommit.publish") {
    val renames = sites("\\bfs\\.rename\\(")
    assert(renames.contains(("FlsDataWriter.scala", "FlsCommit")))
    // every other rename moves something that is not a data file: a
    // catalog table's directory, a file stream's batch log, a manifest
    // version through its compare-and-swap
    assert(renames.filterNot(_._2 == "FlsCommit").sorted == Seq(
      ("FlsCas.scala", ""),
      ("FlsCatalog.scala", "FlsCatalog"),
      ("FlsMicroBatchStream.scala", "FlsMicroBatchStream"),
      ("FlsMicroBatchStream.scala", "FlsMicroBatchStream")))
  }
}
