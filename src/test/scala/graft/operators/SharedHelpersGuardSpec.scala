package graft.operators

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The query layer's shared spellings live in [[QueryHelpers]] only: a
  * second definition of a rounding or decimal-sum helper, or a second
  * inline co-purchase edge build, fails here instead of drifting apart.
  */
class SharedHelpersGuardSpec extends AnyFunSuite {

  private val home = "QueryHelpers.scala"
  private val helperDef = """\bdef\s+(r2|r6|r8|roundHU|decSum)\b""".r
  private val edgeBuild = """collect_set(col("l_partkey"))"""

  private lazy val sources: Seq[(Path, Seq[String])] = {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root),
      s"run from the repository root (no $root under ${Paths.get("").toAbsolutePath})")
    val walk = Files.walk(root)
    try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      .map(p => p -> Files.readAllLines(p).asScala.toSeq)
    finally walk.close()
  }

  private def hits(pred: String => Boolean): Seq[String] =
    for {
      (p, lines) <- sources if p.getFileName.toString != home
      (l, i) <- lines.zipWithIndex if pred(l)
    } yield s"$p:${i + 1}: ${l.trim}"

  test("the scan sees the shared object and its definitions") {
    val shared = sources.collect { case (p, ls) if p.getFileName.toString == home => ls }
    assert(shared.size === 1)
    assert(shared.head.count(l => helperDef.findFirstIn(l).nonEmpty) === 5)
    assert(shared.head.count(_.contains(edgeBuild)) === 1)
  }

  test("rounding and decimal-sum helpers are defined only in QueryHelpers") {
    val found = hits(l => helperDef.findFirstIn(l).nonEmpty)
    if (found.nonEmpty) fail(found.mkString("defined outside QueryHelpers:\n", "\n", ""))
  }

  test("the co-purchase edge list is built only in QueryHelpers") {
    val found = hits(_.contains(edgeBuild))
    if (found.nonEmpty) fail(found.mkString("built outside QueryHelpers:\n", "\n", ""))
  }
}
