package graft.expr

import graft.SparkSpec
import graft.operators.DedupOps
import org.apache.spark.sql.functions._

/** Value parity of the native text-hash expressions (graft.expr.TextHash)
  * against the interpreted HOF Column trees they replaced: the driver's
  * oracle SQL mirrors the OLD arithmetic literally, so the natives must be
  * bit-identical on every input class the corpora contain — ASCII, Latin-1
  * accents, CJK (multi-byte UTF-8), astral code points, empties, and
  * pathological token shapes.
  */
class NativeTextHashSpec extends SparkSpec {
  import spark.implicits._

  private val texts = Seq(
    "the quick brown fox jumps over the lazy dog and runs far away home",
    "aaaa aaaa aaaa aaaa aaaa aaaa aaaa aaaa aaaa aaaa aaaa aaaa",
    "中文 文本 的 哈希 必须 与 解释 树 相同 中文 文本 的 哈希 必须 相同",
    "mixé açcênts über straße garçon naïve fjörd œuvre soupçon déjà vu encore",
    "a b c d e f g h i j k l m n o p q r s t u v w x y z one two three",
    "x".repeat(300) + " tail tokens here to cross the gram width boundary now",
    "😀 astral 𐍈 points 😀 astral 𐍈 points mixed in tokens 😀 astral 𐍈 points",
    "short",
    "tok1 tok2 tok3 tok4 tok5 tok6 tok7 tok8", // exactly DupGramK tokens
    "")

  private def hofPolyHash(s: org.apache.spark.sql.Column, b: Long, m: Long) =
    aggregate(sequence(lit(1), length(s)), lit(0L),
      (acc, i) => (acc * b + ascii(s.substr(i, lit(1)))) % m)

  test("PolyHash == interpreted Horner/ascii fold on every char class") {
    val toks = texts.flatMap(_.split("\\s+")).filter(_.nonEmpty) ++
      Seq("中", "😀", "é", "a中b", "𐍈x")
    val df = toks.toDF("tok")
    for ((b, m) <- Seq((DedupOps.HashB1, DedupOps.HashM1), (DedupOps.HashB2, DedupOps.HashM2))) {
      val native = Native.polyHash(col("tok"), b, m)
      val rows = df.select(col("tok"), native.as("n"), hofPolyHash(col("tok"), b, m).as("h"))
        .collect()
      rows.foreach { r =>
        assert(r.getLong(1) == r.getLong(2), s"polyHash mismatch on '${r.getString(0)}'")
      }
    }
  }

  test("GramMd5s == interpreted md5(array_join(slice(...))) windows") {
    val k = DedupOps.DupGramK
    val df = texts.toDF("text")
      .select(split(trim(col("text")), "\\s+").as("toks"))
      .where(size(col("toks")) >= k)
    val hof = transform(sequence(lit(1), size(col("toks")) - (k - 1)),
      i => md5(array_join(slice(col("toks"), i, lit(k)), " ")))
    val native = Native.gramMd5s(col("toks"), k)
    df.select(hof.as("h"), native.as("n")).collect().foreach { r =>
      assert(r.getSeq[String](0) == r.getSeq[String](1), "gram md5 window mismatch")
    }
  }

  test("Winnow == interpreted hash+window+distinct pipeline, order included") {
    import graft.operators.TextOps.{FpK, FpW}
    def kgramHash(s: org.apache.spark.sql.Column, i: org.apache.spark.sql.Column) =
      (0 until FpK).foldLeft(lit(0L): org.apache.spark.sql.Column)((acc, j) =>
        (acc * DedupOps.HashB1 + ascii(s.substr(i + lit(j), lit(1)))) % DedupOps.HashM1)
    val hashes = transform(sequence(lit(1), length(col("text")) - (FpK - 1)),
      i => kgramHash(col("text"), i))
    val wins = transform(sequence(lit(1), size(col("hs")) - (FpW - 1)),
      i => array_min(slice(col("hs"), i, lit(FpW))))
    val native = Native.winnow(col("text"), FpK, FpW, DedupOps.HashB1, DedupOps.HashM1)
    val df = texts.toDF("text").where(length(col("text")) >= FpK + FpW)
    val rows = df
      .select(col("text"), native.as("n"))
      .select(col("text"), col("n"), hashes.as("hs"))
      .select(col("n"), array_distinct(wins).as("h"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getSeq[Long](0) == r.getSeq[Long](1), "winnow fingerprint mismatch")
    }
  }

  test("ShingleHashes == xxhash64 over substr 3-grams; MinHashSig == 64 min-agg columns") {
    val df = texts.filter(_.length >= 3).toDF("text")
    val hofGrams = transform(sequence(lit(1), length(col("text")) - 2),
      i => xxhash64(col("text").substr(i, lit(3))))
    val native = Native.shingleHashes(col("text"))
    df.select(hofGrams.as("h"), native.as("n")).collect().foreach { r =>
      assert(r.getSeq[Long](0) == r.getSeq[Long](1), "shingle hash mismatch")
    }
    // minhash: native per-doc loop vs the 64 min(xxhash64(lit(i), h)) aggs
    val sh = df.select(monotonically_increasing_id().as("id"), native.as("sh"))
      .select(col("id"), col("sh"), explode(col("sh")).as("h"))
    val agg = sh.groupBy("id")
      .agg((0 until 64).map(i => min(xxhash64(lit(i), col("h"))).as(s"m$i")).head,
        (0 until 64).map(i => min(xxhash64(lit(i), col("h"))).as(s"m$i")).tail: _*)
      .select(col("id"), array((0 until 64).map(i => col(s"m$i")): _*).as("agg_sig"))
    val nat = df.select(monotonically_increasing_id().as("id"),
      Native.minHash(native, 64).as("nat_sig"))
    val joined = agg.join(nat, "id").collect()
    assert(joined.nonEmpty)
    joined.foreach { r =>
      assert(r.getSeq[Long](1) == r.getSeq[Long](2), "minhash signature mismatch")
    }
  }

  test("PositionalEqCount and IntersectCount match the HOF/set-op forms") {
    val pairs = Seq(
      (Seq(1L, 2L, 3L, 4L), Seq(1L, 9L, 3L, 8L)),
      (Seq(5L, 6L), Seq(5L, 6L)),
      (Seq(1L, 2L, 3L), Seq(4L, 5L, 6L)),
      (Seq(-1L, Long.MaxValue, 0L), Seq(Long.MaxValue, -1L, 7L)))
    val df = pairs.toDF("a", "b")
    val eqN = Native.positionalEq(col("a"), col("b"))
    val inN = Native.intersectCount(col("a"), col("b"))
    df.select(
        eqN.as("e"), size(filter(zip_with(col("a"), col("b"), (x, y) => x === y), p => p)).as("eh"),
        inN.as("i"), size(array_intersect(col("a"), col("b"))).as("ih"))
      .collect().foreach { r =>
        assert(r.getInt(0) == r.getInt(1), "positional eq mismatch")
        assert(r.getInt(2) == r.getInt(3), "intersect count mismatch")
      }
  }

  /** The explode + 60-sum SimHash tree SimHashSig replaced (DedupOps before
    * the native signature), kept here as the parity reference.
    */
  private def treeSimHash(d: org.apache.spark.sql.DataFrame) = {
    val toks = d.select(col("doc_id"), explode(split(trim(col("text")), "\\s+")).as("tok"))
      .where(col("tok") =!= "")
      .select(col("doc_id"),
        hofPolyHash(col("tok"), DedupOps.HashB1, DedupOps.HashM1).as("h1"),
        hofPolyHash(col("tok"), DedupOps.HashB2, DedupOps.HashM2).as("h2"))
    val bitSums = (0 until DedupOps.SimBits).map { i =>
      sum(when(((col("h1") * (i + 1) + col("h2")) % DedupOps.HashM1) % 2 === 1, 1)
        .otherwise(-1)).as(s"b$i")
    }
    toks.groupBy("doc_id").agg(bitSums.head, bitSums.tail: _*)
      .select(col("doc_id"),
        (0 until DedupOps.SimBits).map(i =>
          when(col(s"b$i") > 0, shiftleft(lit(1L), i)).otherwise(lit(0L)))
          .reduce(_.bitwiseOR(_)).as("simhash"))
  }

  test("SimHashSig == explode + 60 sum(when) tree, token-less docs absent on both sides") {
    val rng = new scala.util.Random(5)
    val pieces = Vector("alpha", "beta", "中文", "文本", "😀", "𐍈x", "é", "straße",
      " ", "  ", "\t", "\n", "\u000B", "\f", "\r", "\r\n", "\u00A0", "\u3000", "\u0000")
    val random = (0 until 200).map(_ => Seq.fill(rng.nextInt(12))(pieces(rng.nextInt(pieces.length))).mkString)
    val adversarial = Seq(
      "\tlead tab", "trail tab\t", "\nlead newline", "trail cr\r", "\u000Bvt\u000B",
      "\fff\f", "  spaces  around  ", " \t\n mixed \r\f\u000B runs \t ",
      " ", "\t", "\n\r\f\u000B", "", "x", "\u00A0", "\u3000中\u3000",
      "\ud83d\ude00\t\ud800 lone\udc00", "a\u0000b c")
    val rows = (texts ++ random ++ adversarial).zipWithIndex.map { case (t, i) => (i.toLong, t) } :+
      ((10000L, null: String))
    val d = rows.toDF("doc_id", "text")
    val native = Native.simHash(col("text"),
      DedupOps.SimBits, DedupOps.HashB1, DedupOps.HashM1, DedupOps.HashB2, DedupOps.HashM2)
    def set(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toSet
    val ref = set(treeSimHash(d))
    val got = set(DedupOps.simHashSignatures(d))
    assert(got == ref, s"missing=${(ref -- got).take(5)} extra=${(got -- ref).take(5)}")
    // the raw expression agrees too, and is null exactly where the tree has no row
    val raw = d.select(col("doc_id"), native.as("s")).collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    assert(raw.collect { case (id, Some(sig)) => id -> sig }.toSet == ref)
    val tokenless = Seq(" ", "\t", "\n\r\f\u000B", "").map(t => rows.find(_._2 == t).get._1) :+ 10000L
    tokenless.foreach(id => assert(raw(id).isEmpty && !ref.exists(_._1 == id), s"doc $id"))
    assert(ref.size > 150, s"fixture too weak: ${ref.size} signatures")
  }

  test("natives stay native under fail-fast codegen") {
    // CodegenGuardSpec covers the full queries; this pins the expressions
    // themselves compiling (no CodegenFallback path) on a realistic frame
    val prev = spark.conf.getOption("spark.sql.codegen.fallback")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val df = texts.toDF("text")
        .select(col("text"), split(trim(col("text")), "\\s+").as("toks"))
      val n1 = Native.polyHash(col("text"), DedupOps.HashB1, DedupOps.HashM1)
      val n2 = Native.gramMd5s(col("toks"), DedupOps.DupGramK)
      val n3 = Native.winnow(col("text"), 8, 16, DedupOps.HashB1, DedupOps.HashM1)
      val n4 = Native.simHash(col("text"),
        DedupOps.SimBits, DedupOps.HashB1, DedupOps.HashM1, DedupOps.HashB2, DedupOps.HashM2)
      assert(df.select(n1, n2, n3, n4).collect().length == texts.length)
    } finally prev match {
      case Some(v) => spark.conf.set("spark.sql.codegen.fallback", v)
      case None => spark.conf.unset("spark.sql.codegen.fallback")
    }
  }
}
