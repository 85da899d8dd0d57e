package graft.expr

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.objects.{AssertNotNull, Invoke, StaticInvoke}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._

/** The one builder of the engine's native Columns: each def wraps one JVM
  * kernel in Spark's own `StaticInvoke` (a static method of a Scala object,
  * through its static forwarder) or `Invoke` (a method of a shipped
  * instance). Both generate one direct call inside whole-stage codegen, have
  * an interpreted path, and return null when an argument is null; constants
  * go in as literals. No session setup is involved, so the Columns resolve
  * on any session.
  *
  * Each `dataType` is the exact type the replaced expression declared,
  * `containsNull` included, so parquet field optionality does not shift.
  */
object Native {
  private def expr(c: Column): Expression = ColumnBridge.expression(c)

  /** `owner.method(args)`; `nullable` for kernels with a boxed result that
    * may be null.
    */
  private def static(owner: AnyRef, dataType: DataType, method: String, args: Seq[Expression],
                     nullable: Boolean = false): Column =
    ColumnBridge.column(StaticInvoke(owner.getClass, dataType, method, args, returnNullable = nullable))

  /** [[TextHash.polyHash]]: Horner fold of the code points, mod m. */
  def polyHash(s: Column, b: Long, m: Long): Column =
    static(TextHash, LongType, "polyHash", Seq(expr(s), Literal(b), Literal(m)))

  /** [[TextHash.simHashSig]]: the doc's SimHash signature, null when the text
    * has no token.
    */
  def simHash(s: Column, bits: Int, b1: Long, m1: Long, b2: Long, m2: Long): Column =
    static(TextHash, LongType, "simHashSig",
      Seq(expr(s), Literal(bits), Literal(b1), Literal(m1), Literal(b2), Literal(m2)), nullable = true)

  /** [[TextHash.gramMd5s]]: md5 hex of every k-token window. */
  def gramMd5s(toks: Column, k: Int): Column =
    static(TextHash, ArrayType(StringType, containsNull = true), "gramMd5s",
      Seq(expr(toks), Literal(k)))

  /** [[TextHash.winnow]]: winnowing fingerprints in first-occurrence order. */
  def winnow(s: Column, k: Int, w: Int, b: Long, m: Long): Column =
    static(TextHash, ArrayType(LongType, containsNull = true), "winnow",
      Seq(expr(s), Literal(k), Literal(w), Literal(b), Literal(m)))

  /** [[ShingleMinHash.shingleHashes]]: xxhash64 of every 3-character shingle. */
  def shingleHashes(s: Column): Column =
    static(ShingleMinHash, ArrayType(LongType, containsNull = false), "shingleHashes",
      Seq(expr(s)))

  /** [[ShingleMinHash.minhash]]: the `p` minhash values of a shingle-hash array. */
  def minHash(hashes: Column, p: Int): Column =
    static(ShingleMinHash, ArrayType(LongType, containsNull = false), "minhash",
      Seq(expr(hashes), Literal(p)))

  /** [[ShingleMinHash.positionalEq]]: positions where two signatures agree. */
  def positionalEq(a: Column, b: Column): Column =
    static(ShingleMinHash, IntegerType, "positionalEq", Seq(expr(a), expr(b)))

  /** [[ShingleMinHash.intersectCount]]: |a ∩ b| of two distinct long arrays. */
  def intersectCount(a: Column, b: Column): Column =
    static(ShingleMinHash, IntegerType, "intersectCount", Seq(expr(a), expr(b)))

  /** [[AsciiFold.foldUTF8]]: NFD + combining-mark strip. */
  def fold(s: Column): Column = static(AsciiFold, StringType, "foldUTF8", Seq(expr(s)))

  /** [[CosineF32.cosine]]: the float32 cosine of two float arrays, widened to
    * double (null on a null element).
    */
  def cosine(a: Column, b: Column): Column =
    static(CosineF32, DoubleType, "cosine", Seq(expr(a), expr(b)), nullable = true)

  /** [[CosineF32.round4]]: a [[cosine]] value rounded to 4dp as DuckDB rounds
    * a FLOAT.
    */
  def round4(cos: Column): Column = static(CosineF32, DoubleType, "round4", Seq(expr(cos)))

  /** [[DotProduct]]: double-precision dot product of two numeric arrays. */
  def dot(a: Column, b: Column): Column = ColumnBridge.column(DotProduct(expr(a), expr(b)))

  /** `bloom.mightContain(s)`: the filter rides the plan as an object literal. */
  def mightContain(bloom: LongBloom, s: Column): Column =
    ColumnBridge.column(Invoke(Literal.fromObject(bloom), "mightContain", BooleanType,
      Seq(expr(s)), returnNullable = false))

  /** `c` declared non-null in the schema; a null fails the task. */
  def assertNotNull(c: Column): Column = ColumnBridge.column(AssertNotNull(expr(c)))
}
