package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.{array, col, explode}

/** The one candidate-pair join of the banded near-dup queries (dd3, dd4,
  * mm7, sim3, sim4, sim5): every pair of `rows` ids with `id_a < id_b` that
  * shares a key. Each query keeps only its key expressions, the columns it
  * carries and its exact verify.
  *
  * One key per row (sim3's bucket, sim5's cell) is a plain equi-join: a pair
  * can meet on one key only, so no dedup runs, and the output keeps that
  * `key`. The join is hash-partitioned by it, so a caller that shuffles its
  * pairs by the key (sim5's cells) reuses the join's partitioning.
  *
  * Several keys per row are exploded into one key column, joined, and the
  * pairs deduplicated once, so a pair that shares several keys appears once.
  * Keys must then differ across positions: callers pack the position into
  * the key value (dd4's and sim4's position bits, mm7's `b * 256 + byte`,
  * dd3's `struct(band, hash)`).
  *
  * Output: `id_a`, `id_b`, then `<c>_a`, `<c>_b` for each `carry` column,
  * then `key` if there is one key per row. Carried columns must be functions
  * of the id, so the dedup keeps the same pairs.
  *
  * `rows` must already be materialized (`localCheckpoint`): the join's
  * broadcast build side is a BroadcastExchange over an identical subtree,
  * which is never reused against the probe side, so an unmaterialized input
  * would run its whole pipeline twice.
  */
object Candidates {
  def pairs(rows: DataFrame, id: String, keys: Seq[Column], carry: String*): DataFrame = {
    val oneKey = keys.size == 1
    val keyed = rows.select((col(id) +: carry.map(col)) :+
      (if (oneKey) keys.head else explode(array(keys: _*))).as("key"): _*)
    val joined = keyed.as("a")
      .join(keyed.as("b"), col("a.key") === col("b.key") && col(s"a.$id") < col(s"b.$id"))
      .select((col(s"a.$id").as("id_a") +: col(s"b.$id").as("id_b") +:
        carry.flatMap(c => Seq(col(s"a.$c").as(s"${c}_a"), col(s"b.$c").as(s"${c}_b")))) ++
        (if (oneKey) Seq(col("a.key").as("key")) else Nil): _*)
    if (oneKey) joined else joined.distinct()
  }
}
