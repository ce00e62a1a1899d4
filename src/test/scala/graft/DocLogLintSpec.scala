package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

class DocLogLintSpec extends AnyFunSuite {
  private def read(p: String): String =
    new String(Files.readAllBytes(Paths.get(p)), "UTF-8")

  private val connector = "src/main/scala/graft/connector/GraftDocConnector.scala"

  test("graft-doc lists its root only in listRoot and reads manifests and watermarks only in LogCodec") {
    val src = read(connector)
    val v = DocLogLint.violations(src)
    assert(v.isEmpty, v.mkString("\n"))
    assert(DocLogLint.violations(read("src/main/scala/graft/connector/GraftDoc.scala")).isEmpty)
    // the lint is not vacuous: every token still occurs, inside its owner
    val members = DocLogLint.members(src)
    for ((t, owners) <- DocLogLint.Rules)
      assert(members.exists { case (n, body) => owners(n) && body.contains(t) }, t)
  }

  test("the lint flags every member of the log before listRoot and LogCodec") {
    val before = read("src/test/resources/lint/GraftDocLog-2eb7e67.scala.txt")
    assert(DocLogLint.violations(before).toSet == Set(
      "schemaDeltaFiles: listStatus(root", "safeLatestSeq: listStatus(root",
      "commitDirsFlagged: listStatus(root", "claimFiles: listStatus(root",
      "finalizeCommit: listStatus(root",
      "commitFileSlices: ManifestFile", "tableState: ManifestFile",
      "readFile: ManifestFile", "epochAlreadyCommitted: ManifestFile",
      "finalizeCommit: ManifestFile", "findCommitSeqByTag: ManifestFile",
      "epochHwPath: EpochsDir", "writeEpochHw: EpochsDir", "finalizeCommit: EpochsDir"))
  }
}

/** Source lint for the graft-doc log: the table root is listed only in
  * `listRoot` (`listStatus(root`), and the manifest file and the
  * `_epochs/` watermark dir are named only in `LogCodec`, which reads and
  * writes both (a member may name the constant it declares). Heuristic by
  * design, as [[DrainScaffoldLint]]: comments are blanked, a member runs
  * from one two-space-indented declaration to the next, and a nested
  * object is one member. */
object DocLogLint {
  val Rules: Seq[(String, Set[String])] = Seq(
    "listStatus(root" -> Set("listRoot"),
    "ManifestFile" -> Set("LogCodec"),
    "EpochsDir" -> Set("LogCodec"))

  def members(src: String): Seq[(String, String)] = DrainScaffoldLint.members(src)

  def violations(src: String): Seq[String] =
    members(src).flatMap { case (name, body) =>
      Rules.collect { case (t, owners) if !owners(name) && name != t && body.contains(t) =>
        s"$name: $t" }
    }
}
