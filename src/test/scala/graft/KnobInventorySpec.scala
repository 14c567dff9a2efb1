package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every JVM property and environment variable main source reads
  * (`sys.props`, `sys.env`, `System.getProperty`/`getenv`, or the
  * `Integer.getInteger`/`Long.getLong`/`Boolean.getBoolean` property
  * getters) is a knob a run can be steered by without a trace in its
  * conf or its output. The set is pinned here so a new one cannot creep in unseen:
  * adding a read means changing this list, in review. Each read must
  * name its key as a string literal, so the scan can see it.
  */
class KnobInventorySpec extends AnyFunSuite {

  private val allowed = Set(
    "java.io.tmpdir", // scratch root (RunPaths, streaming checkpoints)
    "SPARK_GRAFT_SF_DIR", // Bench input
    "SPARK_GRAFT_CPUS", // Bench/Verify/tool core count
    "SPARK_GRAFT_BENCH_ONLY") // Bench subset for iteration

  private val access = """sys\.props|sys\.env|System\.getProperty|System\.getenv|""" +
    """\bInteger\.getInteger|\bLong\.getLong|\bBoolean\.getBoolean"""
  private val keyed = (s"(?:$access)" +
    """(?:\s*\.\s*(?:get|getOrElse|contains|apply|remove))?\s*\(\s*"([^"]+)"""").r

  test("main source reads exactly the pinned JVM properties and env vars") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the checkout root: $root")
    val files = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    // (file:line, key) per access; key None = not a literal-keyed read
    val reads: Seq[(String, Option[String])] = files.flatMap { f: Path =>
      val lines = new String(Files.readAllBytes(f), StandardCharsets.UTF_8)
        .split("\n", -1)
      lines.zipWithIndex.flatMap { case (line, i) =>
        access.r.findAllMatchIn(line).map { m =>
          s"${root.relativize(f)}:${i + 1}" ->
            keyed.findPrefixMatchOf(line.substring(m.start)).map(_.group(1))
        }
      }
    }
    val unkeyed = reads.collect { case (at, None) => at }
    val names = reads.flatMap(_._2).toSet
    val added = (names -- allowed).toSeq.sorted
    val gone = (allowed -- names).toSeq.sorted
    assert(added.isEmpty && gone.isEmpty && unkeyed.isEmpty,
      s"knob inventory changed — not pinned: ${added.mkString(", ")}; " +
        s"pinned but no longer read: ${gone.mkString(", ")}; " +
        s"without a literal key: ${unkeyed.mkString(", ")}")
  }
}
