package graft

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Library behaviour comes from explicit operator arguments, never from
  * environment variables read inside the library: only the command-line
  * mains may read the environment.
  */
class NoEnvReadSpec extends AnyFunSuite {
  private val root  = Paths.get("src/main/scala/graft")
  private val mains = Set("Bench.scala", "Verify.scala", "RunOne.scala", "ScaleGen.scala")
    .map(root.resolve)

  test("no file under src/main/scala/graft but the mains reads the environment") {
    assert(Files.isDirectory(root), s"$root not found from ${Paths.get("").toAbsolutePath}")
    val sources = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala")).toSeq
    assert(sources.size > mains.size)
    val readers = sources.filterNot(mains.contains).filter { p: Path =>
      val text = Files.readString(p)
      text.contains("sys.env") || text.contains("System.getenv")
    }
    assert(readers.isEmpty, s"environment read in library code: ${readers.mkString(", ")}")
  }
}
