package graft.core

import org.scalatest.funsuite.AnyFunSuite

/** The broadcast decision has ONE owner, [[Pin]]: no per-operator row
  * ceiling (`BroadcastMax*` / `broadcastMax*`) and no count-then-broadcast
  * gate may grow back anywhere else in the engine sources. */
class BroadcastGateGuardSpec extends AnyFunSuite {

  private val root = new java.io.File("src/main/scala")
  private val owner = new java.io.File(root, "graft/core/Pin.scala").getCanonicalFile

  private def sources(dir: java.io.File): Seq[java.io.File] =
    Option(dir.listFiles()).toSeq.flatten.flatMap { f =>
      if (f.isDirectory) sources(f) else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    }

  private val ceiling = "(?i)broadcastmax".r
  // a count, or any size, compared against a bound ...
  private val sizeCompare = """\.count\(\)\s*[<>]=?|\bif\s*\([^)]*\s[<>]=?\s""".r
  // ... that decides a broadcast join hint (not a broadcast variable) on
  // the same or the next two lines
  private val broadcastHint =
    """(?<![.\w])broadcast\s*(\(|else\b|$)|functions\.broadcast\b""".r

  private def code(line: String): String = line.split("//", 2)(0) // comments decide nothing

  test("no row ceiling or count-then-broadcast gate outside core/Pin.scala") {
    assert(root.isDirectory, s"run from the project root: ${root.getAbsolutePath}")
    val offenders = for {
      f <- sources(root) if f.getCanonicalFile != owner
      lines = { val src = scala.io.Source.fromFile(f, "UTF-8")
                try src.getLines().toVector finally src.close() }
      (line, i) <- lines.zipWithIndex
      if ceiling.findFirstIn(line).isDefined ||
        (sizeCompare.findFirstIn(code(line)).isDefined &&
          lines.slice(i, i + 3).exists(l => broadcastHint.findFirstIn(code(l)).isDefined))
    } yield s"${f.getPath}:${i + 1}: ${line.trim}"
    assert(offenders.isEmpty, offenders.mkString("broadcast gates outside Pin:\n", "\n", ""))
  }
}
