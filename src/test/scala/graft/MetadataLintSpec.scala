package graft

import org.scalatest.funsuite.AnyFunSuite

/** One owner for the table metadata layout: `graft.tables` alone reads
  * and writes under a table's `metadata/` (snapshots, progress markers,
  * the event log). Any other main source that names a path there (or
  * the directory itself as a literal, to join paths onto) would
  * be a second writer or reader that the table's protocol does not
  * cover, so this lint fails on it, comments included. */
class MetadataLintSpec extends AnyFunSuite {

  test("no main source outside graft/tables names a path under metadata/") {
    val main = new java.io.File("src/main/scala")
    assert(main.isDirectory, s"lint root $main missing — update MetadataLintSpec")
    def sources(d: java.io.File): Seq[java.io.File] =
      d.listFiles().toSeq.flatMap(f => if (f.isDirectory) sources(f) else Seq(f))
    val owner = new java.io.File(main, "graft/tables").getPath + java.io.File.separator
    val offenders = for {
      f <- sources(main) if f.getName.endsWith(".scala") && !f.getPath.startsWith(owner)
      (line, i) <- java.nio.file.Files.readAllLines(f.toPath).toArray(Array.empty[String])
        .zipWithIndex if line.contains("metadata/") || line.contains("\"metadata\"")
    } yield s"${f.getPath}:${i + 1}: ${line.trim}"
    assert(sources(main).exists(_.getPath.startsWith(owner)), "no graft/tables sources found")
    assert(offenders.isEmpty,
      s"only graft/tables may name metadata/ paths (go through IceTable):\n${offenders.mkString("\n")}")
  }
}
