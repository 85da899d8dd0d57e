package graft.expr

import graft.{SparkEntry, SparkSpec}

/** The native Columns are plain Catalyst expressions, not session-registered
  * functions: every headline query that uses one runs on a fresh session
  * that no factory has set up (`newSession()` shares only the SparkContext).
  */
class NativeSessionSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  private val queries = Seq(
    "sim1_cosine_topk", "sim2_ann_ivf", "sim3_srp_lsh", "sim4_srp_banded", "sim5_semdedup",
    "dd3_dedup_minhash", "dd3_dedup_minhash09", "dd4_dedup_simhash", "dd6_dup_ngrams",
    "dd7_dup_clusters", "dd8_dup_spans", "txt4_fingerprints", "ctn1_decontaminate",
    "ctn2_eval_contamination", "ctn3_bloom_decontaminate", "pipe2_cut_dups",
    "pipe3_cluster_keeper", "pipe4_training_corpus", "ds2_hash_split", "ds4_mix_apply")

  test("native-expression queries run on a session with no setup") {
    val fresh = spark.newSession()
    queries.foreach { name =>
      try SparkEntry.queries(name)(fresh, sf).write.format("noop").mode("overwrite").save()
      catch { case e: Throwable => fail(s"$name failed on a fresh session: ${e.getMessage}", e) }
    }
  }
}
