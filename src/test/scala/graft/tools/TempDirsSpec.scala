package graft.tools

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** Child JVM for [[TempDirsSpec]]: makes one TempDirs dir holding one
  * file, prints the dir, and exits.
  */
object TempDirsChild {
  def main(args: Array[String]): Unit = {
    val dir = TempDirs.create("graft_tempdirs_spec_")
    Files.writeString(Paths.get(dir, "part-0"), "x")
    println(dir)
  }
}

/** TempDirs deletes its dirs when the JVM exits: run a child JVM (no
  * Spark) with its own java.io.tmpdir and look at what it left.
  */
class TempDirsSpec extends AnyFunSuite {

  test("a TempDirs dir and its contents are gone after JVM exit") {
    val tmp = Files.createTempDirectory("tempdirs_spec")
    try {
      val java = Paths.get(sys.props("java.home"), "bin", "java").toString
      val p = new ProcessBuilder(java, s"-Djava.io.tmpdir=$tmp",
          "-cp", sys.props("java.class.path"),
          "graft.tools.TempDirsChild")
        .redirectErrorStream(true).start()
      val out = new String(p.getInputStream.readAllBytes()).trim
      assert(p.waitFor() == 0, out)
      val dir = Paths.get(out.linesIterator.toSeq.last)
      assert(dir.getParent == tmp, out)
      assert(!Files.exists(dir), s"$dir survived the child's exit")
      assert(Files.list(tmp).count() == 0, "the child left an entry behind")
    } finally {
      Files.walk(tmp).sorted(java.util.Comparator.reverseOrder())
        .forEach(f => Files.deleteIfExists(f))
    }
  }
}
