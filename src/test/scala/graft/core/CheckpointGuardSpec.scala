package graft.core

import org.scalatest.funsuite.AnyFunSuite

/** Materialization has ONE owner, [[Pin]]: no engine source outside the
  * `GraftPin` shim that implements it may call `localCheckpoint`, so every
  * materialized frame carries counted statistics and a change to how
  * frames are materialized is a change to one file. */
class CheckpointGuardSpec extends AnyFunSuite {

  private val root = new java.io.File("src/main/scala")
  private val owner =
    new java.io.File(root, "org/apache/spark/sql/graftshim/GraftPin.scala").getCanonicalFile

  private def sources(dir: java.io.File): Seq[java.io.File] =
    Option(dir.listFiles()).toSeq.flatten.flatMap { f =>
      if (f.isDirectory) sources(f) else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    }

  /** The code of each line: `//` comments and scaladoc/block comments
    * (which may span lines) are dropped. */
  private def code(lines: Seq[String]): Seq[String] = {
    var inBlock = false
    lines.map { line =>
      val out = new StringBuilder
      var i = 0
      while (i < line.length) {
        if (inBlock) {
          val end = line.indexOf("*/", i)
          if (end < 0) i = line.length else { inBlock = false; i = end + 2 }
        } else if (line.startsWith("/*", i)) { inBlock = true; i += 2 }
        else if (line.startsWith("//", i)) i = line.length
        else { out += line(i); i += 1 }
      }
      out.toString
    }
  }

  test("no localCheckpoint( in src/main/scala code outside GraftPin.scala") {
    assert(root.isDirectory, s"run from the project root: ${root.getAbsolutePath}")
    assert(owner.isFile, s"the Pin shim moved: $owner")
    val offenders = for {
      f <- sources(root)
      if f.getCanonicalFile != owner
      lines = { val src = scala.io.Source.fromFile(f, "UTF-8")
                try src.getLines().toVector finally src.close() }
      (line, i) <- code(lines).zipWithIndex
      if line.contains("localCheckpoint(")
    } yield s"${f.getPath}:${i + 1}: ${lines(i).trim}"
    assert(offenders.isEmpty, offenders.mkString("localCheckpoint outside Pin:\n", "\n", ""))
  }

  test("the comment filter keeps code and drops comments") {
    val got = code(Seq(
      "val a = df.localCheckpoint(true) // tail",
      "/** doc: localCheckpoint(true)",
      "  * still doc */ val b = 1",
      "// localCheckpoint(true)"))
    assert(got.map(_.contains("localCheckpoint(")) === Seq(true, false, false, false))
    assert(got(2).trim === "val b = 1")
  }
}
