package graft.kernel

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import org.scalatest.funsuite.AnyFunSuite
import graft.pipeline.GenData
import graft.schema.DetectConfig

/** Golden digests of the detection kernel's output. Every oracle in the repo
  * (the extraction oracle, the DuckDB side tables, the perfbench digests)
  * calls this same kernel, so none of them can notice a change in what the
  * kernel emits; these constants can. Each is a SHA-256 over the rendered
  * spans of ~1000 generated docs' payloads plus a few slanted-bar maps that
  * give the page-angle and rotated paths a non-zero angle.
  *
  * A refactor must reproduce every constant without editing it. A deliberate
  * semantics change updates the constant together with
  * `graft.operators.OracleSide.Version`, so cached side tables are rebuilt.
  */
class KernelDigestSpec extends AnyFunSuite {

  private val seed = GenData.DefaultSeed

  /** Three parallel solid bars at `deg` degrees on a 128x128 map. */
  private def slanted(deg: Int): Array[Byte] = {
    val (w, h) = (128, 128)
    val t = math.tan(math.toRadians(deg))
    val cells = new Array[Byte](w * h)
    for (bar <- 0 until 3; x <- 16 until 96; dy <- 0 until 5) {
      val y = 20 + bar * 30 + (x * t).toInt + dy
      if (y >= 0 && y < h) cells(y * w + x) = 250.toByte
    }
    Payload.encodeProbMap(w, h, cells)
  }

  private lazy val payloads: Seq[Array[Byte]] =
    (0 until 1000).flatMap(i => GenData.media(seed, GenData.doc(seed, i))).map(_.payload) ++
      Seq(5, 12, 20, 33).map(slanted)

  private def sha256(lines: Seq[String]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    lines.foreach(l => md.update((l + "\n").getBytes(UTF_8)))
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  private def rendered(cfg: DetectConfig): String =
    sha256(payloads.zipWithIndex.flatMap { case (p, i) =>
      Detect.extractRendered(p, cfg).map { case (kind, text) => s"$i\t$kind\t$text" }
    })

  private val full = DetectConfig(rotatedBbox = true, useDilation = true,
    useAngleClf = true, renderCrops = true)

  /** (name, digest of the kernel output, golden value from the unmerged tail) */
  private val golden: Seq[(String, () => String, String)] = Seq(
    ("extract regions", () => sha256(payloads.zipWithIndex.flatMap { case (p, i) =>
      Detect.extract(p).map(r => s"$i\t$r")
    }), "3347fe66a55bacc44ca16c0af17d8803b8c046f3d64912be106ef977809fe58b"),
    ("extractRendered Default", () => rendered(DetectConfig.Default),
      "a9a450c008b53528eb1f923c00292f1d8ff8bed5efd2d774325e921b98481f49"),
    ("extractRendered ReferenceDefault", () => rendered(DetectConfig.ReferenceDefault),
      "b6e61602f937ba78871c4c023ad7cc809d5b04c26ec6656d7a71d9bc1c12e12f"),
    ("extractRendered full config", () => rendered(full),
      "46ae25a5a50749f522db0f6dfc4ff0c916ce87b1227f568c9da39defd75ec418"),
    ("extractRendered scoreSlow", () => rendered(DetectConfig(scoreSlow = true)),
      "086e33bdcbe7ee5d0bd461fd65e33f1a1b14bc649c0475e9be303c37f5ceab1f"),
    ("extractRendered autoRotateWholeImage", () => rendered(DetectConfig(autoRotateWholeImage = true)),
      "72e164eb9000ea91b7badf8958d06bab9e07502f7aedccb6a523a66e25c1efc1"))

  golden.foreach { case (name, digest, want) =>
    test(s"golden digest: $name") {
      assert(digest() == want, s"kernel output changed under $name")
    }
  }
}
