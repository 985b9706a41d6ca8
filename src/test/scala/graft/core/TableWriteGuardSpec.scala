package graft.core

import org.scalatest.funsuite.AnyFunSuite

/** Table layout has ONE owner, [[ParquetTableIO]]: no raw append may write
  * a table from the engine's core or pipeline sources outside
  * core/TableIO.scala, so no append can fork a table's layout from the one
  * its first write fixed, or skip the committed-schema check. */
class TableWriteGuardSpec extends AnyFunSuite {

  private val root = new java.io.File("src/main/scala/graft")
  private val owner = new java.io.File(root, "core/TableIO.scala").getCanonicalFile

  private def sources(dir: java.io.File): Seq[java.io.File] =
    Option(dir.listFiles()).toSeq.flatten.flatMap { f =>
      if (f.isDirectory) sources(f) else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    }

  private val rawAppend = """mode\s*\(\s*("append"|SaveMode\.Append)""".r

  private def code(line: String): String = line.split("//", 2)(0) // comments write nothing

  test("no mode(\"append\") under graft/core or graft/pipeline outside core/TableIO.scala") {
    assert(root.isDirectory, s"run from the project root: ${root.getAbsolutePath}")
    val offenders = for {
      f <- Seq("core", "pipeline").flatMap(d => sources(new java.io.File(root, d)))
      if f.getCanonicalFile != owner
      lines = { val src = scala.io.Source.fromFile(f, "UTF-8")
                try src.getLines().toVector finally src.close() }
      (line, i) <- lines.zipWithIndex
      if rawAppend.findFirstIn(code(line)).isDefined
    } yield s"${f.getPath}:${i + 1}: ${line.trim}"
    assert(offenders.isEmpty, offenders.mkString("raw appends outside TableIO:\n", "\n", ""))
  }
}
