package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.TokenizerArtifact

/** SCALE.md's sections each cite the record their figures come from in the
  * heading, or are marked historical with the commit after which their
  * harness was deleted. This pins the first half mechanically: a record
  * named in a `##`/`###` heading exists in the repo, so deleting a record
  * without re-pointing or retiring its section fails here.
  */
class ScaleRecordsSpec extends AnyFunSuite {

  test("every *.json named in a SCALE.md section heading exists in the repo") {
    val here = java.nio.file.Paths.get(
      classOf[ScaleRecordsSpec].getProtectionDomain.getCodeSource.getLocation.toURI)
    val root = TokenizerArtifact.repoRootOf(here).get
    val headings = java.nio.file.Files.readAllLines(root.resolve("SCALE.md")).toArray
      .map(_.toString).filter(l => l.startsWith("## ") || l.startsWith("### "))
    val cited = headings.flatMap("""[A-Za-z0-9_./-]+\.json""".r.findAllIn(_)).distinct
    assert(cited.nonEmpty, "no record cited in any SCALE.md heading — is the pattern stale?")
    val missing = cited.filterNot(f => java.nio.file.Files.isRegularFile(root.resolve(f)))
    assert(missing.isEmpty, s"SCALE.md headings cite records that do not exist: ${missing.mkString(", ")}")
  }
}
