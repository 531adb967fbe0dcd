package graft

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Operator code carries no `-Dgraft.*` A/B switch: once an A/B is
  * decided, the losing branch is deleted rather than kept behind a
  * system property. Only the two same-JVM kill switches the `DebugPerf
  * propab` harness toggles (`graft.par.off` in `util/Par.scala`,
  * `graft.spread.off` in `util/Spread.scala`) and the tools may read
  * one. Likewise only `util/GraftSession` builds a session, only
  * `Streams.drain` starts a stream, and only `QueryRun` walks the
  * registered query map or drops storage.
  */
class SysPropSwitchSpec extends AnyFunSuite {
  private val root = Paths.get("src/main/scala/graft")
  private val allowed = Set("util/Par.scala", "util/Spread.scala")
  // a graft.* property name passed to sys.props / System.getProperty /
  // Boolean.getBoolean-style readers
  private val read =
    """(sys\.props|System\.getPropert|getBoolean|getInteger|getLong)\S*\(\s*"graft\.""".r

  /** `file:line: text` of every line matching `pattern` in a main
    * source file whose root-relative path passes `where`.
    */
  private def matches(pattern: scala.util.matching.Regex,
                      where: String => Boolean): Seq[String] = {
    assert(Files.isDirectory(root), s"run from the repository root: $root missing")
    def rel(p: Path) = root.relativize(p).toString.replace('\\', '/')
    for {
      p <- Files.walk(root).iterator().asScala.toSeq
      if p.toString.endsWith(".scala")
      r = rel(p)
      if where(r)
      (line, i) <- Files.readAllLines(p).asScala.zipWithIndex
      if pattern.findFirstIn(line).isDefined
    } yield s"$r:${i + 1}: ${line.trim}"
  }

  test("no graft.* system property is read outside Par, Spread and tools") {
    val offenders = matches(read, r => !allowed(r) && !r.startsWith("tools/"))
    assert(offenders.isEmpty, offenders.mkString("\n"))
    // the allowed readers are still there (the pattern is not stale)
    assert(allowed.forall(a =>
      read.findFirstIn(Files.readString(root.resolve(a))).isDefined))
  }

  test("SparkSession.builder appears only in util/GraftSession") {
    val builder = """SparkSession\s*\.\s*builder""".r
    val offenders = matches(builder, _ != "util/GraftSession.scala")
    assert(offenders.isEmpty, offenders.mkString("\n"))
    // the factory itself still matches (the pattern is not stale)
    assert(matches(builder, _ == "util/GraftSession.scala").nonEmpty)
  }

  test("writeStream appears once in src/main, in the streaming drain") {
    val sites = matches("""\.writeStream\b""".r, _ => true)
    assert(sites.size == 1 && sites.head.startsWith("streaming/Streams.scala:"),
      sites.mkString("\n"))
  }

  test("SparkEntry.queries is read only in QueryRun") {
    val sites = matches("""SparkEntry\.queries\b""".r, _ => true)
    assert(sites.nonEmpty && sites.forall(_.startsWith("QueryRun.scala:")),
      sites.mkString("\n"))
  }

  test("getPersistentRDDs appears once in src/main, in QueryRun.dropAllStorage") {
    val sites = matches("""getPersistentRDDs""".r, _ => true)
    assert(sites.size == 1 && sites.head.startsWith("QueryRun.scala:"),
      sites.mkString("\n"))
  }
}
