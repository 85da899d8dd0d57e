package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col

/** `Candidates.pairs` against a brute-force reference: on random frames it
  * must return every pair with `a.id < b.id` that shares a key, once, with
  * each carried column taken from its own side.
  */
class CandidatesSpec extends SparkSpec {
  import spark.implicits._

  /** `n` rows `(id, tag, k0..k{nKeys-1})`: ids are distinct, `tag` is a
    * function of the id, and key `p` is `p * 100 + v` with v in [0, domain),
    * so keys never meet across positions and a small domain makes pairs share
    * several keys.
    */
  private def frame(rng: scala.util.Random, n: Int, nKeys: Int, domain: Int)
      : (DataFrame, Seq[(Long, String, Seq[Long])]) = {
    val ids = rng.shuffle((0L until 3L * n).toList).take(n)
    val rows = ids.map(id => (id, s"t$id", Seq.tabulate(nKeys)(p => p * 100L + rng.nextInt(domain))))
    (rows.toDF("id", "tag", "ks"), rows)
  }

  /** Every `(id_a, id_b, tag_a, tag_b)` with `id_a < id_b` sharing a key. */
  private def bruteForce(rows: Seq[(Long, String, Seq[Long])]): Seq[(Long, Long, String, String)] =
    (for {
      (a, ta, ka) <- rows
      (b, tb, kb) <- rows
      if a < b && ka.exists(kb.contains)
    } yield (a, b, ta, tb)).sorted

  private def pairsOf(df: DataFrame, nKeys: Int): Seq[(Long, Long, String, String)] =
    Candidates.pairs(df, "id", (0 until nKeys).map(p => col("ks")(p)), "tag")
      .select("id_a", "id_b", "tag_a", "tag_b")
      .as[(Long, Long, String, String)].collect().toSeq.sorted

  test("several keys per row: every sharing pair once, even when it shares several keys") {
    val rng = new scala.util.Random(18)
    var multiShared = 0
    (1 to 12).foreach { trial =>
      val (df, rows) = frame(rng, 5 + rng.nextInt(40), 2 + rng.nextInt(4), 1 + rng.nextInt(4))
      val nKeys = rows.head._3.size
      val want = bruteForce(rows)
      assert(pairsOf(df, nKeys) == want, s"trial $trial")
      multiShared += want.count { case (a, b, _, _) =>
        val (ka, kb) = (rows.find(_._1 == a).get._3, rows.find(_._1 == b).get._3)
        ka.count(kb.contains) > 1
      }
    }
    assert(multiShared > 0, "no pair shared more than one key: the dedup went untested")
  }

  test("one key per row: the plain equi-join equals the brute force") {
    val rng = new scala.util.Random(19)
    (1 to 12).foreach { trial =>
      val (df, rows) = frame(rng, 5 + rng.nextInt(60), 1, 1 + rng.nextInt(8))
      assert(pairsOf(df, 1) == bruteForce(rows), s"trial $trial")
    }
  }

  test("carried columns come from their own side, with string ids too") {
    val df = Seq(("m-3", 3L, 7L), ("m-1", 1L, 7L), ("m-2", 2L, 9L), ("m-4", 4L, 7L))
      .toDF("ref", "bits", "k")
    val pairs = Candidates.pairs(df, "ref", Seq(col("k")), "bits")
    assert(pairs.columns.toSeq == Seq("id_a", "id_b", "bits_a", "bits_b", "key"))
    val got = pairs.collect().toSeq.sortBy(r => (r.getString(0), r.getString(1)))
    assert(got == Seq(Row("m-1", "m-3", 1L, 3L, 7L), Row("m-1", "m-4", 1L, 4L, 7L),
      Row("m-3", "m-4", 3L, 4L, 7L)))
    // several keys per row: the key is not a function of the pair, so it is dropped
    assert(Candidates.pairs(df, "ref", Seq(col("k"), col("bits") + 100), "bits").columns.toSeq ==
      Seq("id_a", "id_b", "bits_a", "bits_b"))
  }

  test("an empty input gives no pairs") {
    val (df, _) = frame(new scala.util.Random(20), 10, 3, 2)
    assert(pairsOf(df.limit(0), 3).isEmpty)
    assert(Candidates.pairs(df.limit(0), "id", Seq(col("ks")(0))).count() == 0)
  }
}
