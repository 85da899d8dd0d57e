package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.kernel.SplitMix64

/** Training-data annotation source — the Spark restatement of the
  * reference's annotation loader (S5 in SURVEY §2.1): per-image annotation
  * lines `x1,y1,...,x4,y4,label` with `###` as the ignore marker
  * (`StdDataset.load_ann`, cnstd/datasets/dataset.py:86-103).
  *
  * The lines themselves are synthesized deterministically (no external data);
  * the operator under test is the parse pipeline, which is a pure codegen'd
  * column expression.
  */
object Annotations {

  /** Deterministic annotation lines, seeded per image. */
  def genAnnLines(seed: Long, img: Int): Seq[String] = {
    val rng = SplitMix64.forKey(seed, s"ann-$img")
    val nBoxes = 1 + rng.nextInt(6)
    (0 until nBoxes).map { _ =>
      val x = rng.nextInt(500); val y = rng.nextInt(500)
      val w = 10 + rng.nextInt(100); val h = 10 + rng.nextInt(40)
      val label = if (rng.nextInt(5) == 0) "###" else s"w${rng.nextInt(1000)}"
      s"$x,$y,${x + w},$y,${x + w},${y + h},$x,${y + h},$label"
    }
  }

  /** Parse annotation lines (S5): 8 polygon coords + label, `###` = ignore.
    * Labels may themselves contain commas in the wild, so coords are the
    * first 8 fields and the label is the remainder (mirrors the reference's
    * `use_polygon` slicing).
    */
  def parseAnnotations(spark: SparkSession, seed: Long, n: Int): DataFrame = {
    import spark.implicits._
    val lines = (0 until n).flatMap { i =>
      genAnnLines(seed, i).map(l => (f"img_$i%05d.jpg", l))
    }.toDF("img", "line")
    val parts = split(col("line"), ",")
    lines
      .select(col("img"),
        transform(slice(parts, 1, 8), _.cast("int")).as("poly"),
        array_join(slice(parts, 9, 1000), ",").as("label"))
      .withColumn("ignored", (col("label") === "###").cast("int"))
  }

  /** Fixed side-table path for the parsed annotation rows at size n. The
    * query registry writes [[parseAnnotations]] there so the DuckDB oracle
    * can aggregate the SAME rows (the generator PRNG is not
    * expressible in SQL; the aggregation is what the oracle value-checks).
    */
  def sideTable(dir: String, n: Int): String = graft.operators.OracleSide.path("src1_ann", dir, n)

  /** Generator seed of the annotation lines src1 parses. */
  final val Seed = 42L

  /** Doc count per driver scale factor (mirrored in SparkEntry.oracleSqlFor). */
  def nFor(dir: String): Int =
    if (dir.contains("sf0.1")) 2000 else if (dir.contains("sf0.01")) 500 else 100

  /** Per-image annotation summary (queries entry): box/ignore counts and the
    * enclosing-bbox reduce (A5 analog: array_min/array_max over coords).
    */
  def gtSummary(spark: SparkSession, dir: String): DataFrame =
    parseAnnotations(spark, Seed, nFor(dir))
      .withColumn("xs", array(col("poly")(0), col("poly")(2), col("poly")(4), col("poly")(6)))
      .withColumn("ys", array(col("poly")(1), col("poly")(3), col("poly")(5), col("poly")(7)))
      .groupBy("img")
      .agg(count(lit(1)).as("n_boxes"),
        sum("ignored").as("n_ignored"),
        min(array_min(col("xs"))).as("x_min"),
        min(array_min(col("ys"))).as("y_min"),
        max(array_max(col("xs"))).as("x_max"),
        max(array_max(col("ys"))).as("y_max"))
      .orderBy("img")
}
