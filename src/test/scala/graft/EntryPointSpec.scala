package graft

import java.io.File
import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite

/** `src/main` holds the engine and its four entry points, nothing else:
  * a one-off measurement main belongs in a scratch checkout, and its
  * result in a committed record (BENCH_SF10.md, ANN_CURVE.md, ...). */
class EntryPointSpec extends AnyFunSuite {

  test("the only mains in src/main are Bench, Verify, Explain and ScaleUp") {
    val root = new File("src/main/scala")
    assert(root.isDirectory, s"run from the repository root: $root")
    def walk(f: File): Seq[File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    val withMain = walk(root).filter(f =>
      new String(Files.readAllBytes(f.toPath), "UTF-8")
        .contains("def main(")).map(_.getName.stripSuffix(".scala")).toSet
    assert(withMain === Set("Bench", "Verify", "Explain", "ScaleUp"))
  }
}
