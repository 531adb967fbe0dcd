package graft

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Operator code carries no `-Dgraft.*` A/B switch: once an A/B is
  * decided, the losing branch is deleted rather than kept behind a
  * system property. Only the two same-JVM kill switches the `DebugPerf
  * propab` harness toggles (`graft.par.off` in `util/Par.scala`,
  * `graft.spread.off` in `util/Spread.scala`) and the tools may read
  * one.
  */
class SysPropSwitchSpec extends AnyFunSuite {
  private val root = Paths.get("src/main/scala/graft")
  private val allowed = Set("util/Par.scala", "util/Spread.scala")
  // a graft.* property name passed to sys.props / System.getProperty /
  // Boolean.getBoolean-style readers
  private val read =
    """(sys\.props|System\.getPropert|getBoolean|getInteger|getLong)\S*\(\s*"graft\.""".r

  test("no graft.* system property is read outside Par, Spread and tools") {
    assert(Files.isDirectory(root), s"run from the repository root: $root missing")
    val files = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    def rel(p: Path) = root.relativize(p).toString.replace('\\', '/')
    val offenders = for {
      p <- files
      r = rel(p)
      if !allowed(r) && !r.startsWith("tools/")
      (line, i) <- Files.readAllLines(p).asScala.zipWithIndex
      if read.findFirstIn(line).isDefined
    } yield s"$r:${i + 1}: ${line.trim}"
    assert(offenders.isEmpty, offenders.mkString("\n"))
    // the allowed readers are still there (the pattern is not stale)
    assert(allowed.forall(a =>
      read.findFirstIn(Files.readString(root.resolve(a))).isDefined))
  }
}
