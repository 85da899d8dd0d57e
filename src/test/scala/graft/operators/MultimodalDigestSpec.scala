package graft.operators

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import org.scalatest.funsuite.AnyFunSuite
import graft.pipeline.GenData

/** Golden digests of mm3's and mm5's kernel rows. Both reach the component
  * labeler from `MultimodalOps` (mm3 runs STD on the resized luma, mm5 runs
  * STD on the luma and proposes MFD/layout candidates from its components),
  * and both their side tables come from the same kernel, so the DuckDB oracle
  * cannot notice a change in what they emit; these constants can. Each is a
  * SHA-256 over the rows of a fixed set of refs.
  *
  * A refactor must reproduce every constant without editing it. A deliberate
  * semantics change updates the constant together with
  * `graft.operators.OracleSide.Version`, so cached side tables are rebuilt.
  */
class MultimodalDigestSpec extends AnyFunSuite {

  private def sha256(lines: Seq[String]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    lines.foreach(l => md.update((l + "\n").getBytes(UTF_8)))
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  private def rows[R](src: MultimodalOps.MmSource[R]): Seq[R] =
    (0 until 400).flatMap(i => src.rows(src.prefix + GenData.docId(i)))

  private def digest(src: MultimodalOps.MmSource[_ <: Product]): String =
    sha256(rows(src).map(_.toString))

  private val golden = Seq(
    ("mm3 image detect", MultimodalOps.DetectSource,
      "51d7618cd61c4efd5ff0cbff35e1467bbfd5c18dd7d22e845dabd9d01c90c5c1"),
    ("mm5 stage detect", MultimodalOps.StagesSource,
      "780f5711ade18835e52a0ff0425734240d68dee3cad68baf678948c0a16ab4f2"))

  test("the refs reach the labeler: regions and candidates are found") {
    val det = rows(MultimodalOps.DetectSource)
    assert(det.count(_.n_regions > 0) > det.size / 2)
    val stages = rows(MultimodalOps.StagesSource)
    for (stage <- 0 to 2) {
      val of = stages.filter(_.stage == stage)
      assert(of.count(_.n_regions > 0) > of.size / 2, s"stage $stage")
    }
    assert(stages.map(_.n_cands).sum > stages.size)
  }

  golden.foreach { case (name, src, want) =>
    test(s"golden digest: $name") {
      assert(digest(src) == want, s"kernel rows changed under $name")
    }
  }
}
