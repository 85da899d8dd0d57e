package graft.pipeline

import org.apache.spark.sql.{SaveMode, SparkSession}
import graft.sources.Tables

/** spark-submit entry point: generate (or read) the interleaved doc table,
  * run extraction, write the output spans table as doc_id-range-partitioned
  * parquet. Usage:
  *
  *   ExtractJob gen <nDocs> <outDir> [seed]     — generate + extract
  *   ExtractJob run <docsDir> <mediaDir> <outDir> — extract an existing table
  *
  * The master/parallelism comes from spark-submit (or local[*] when absent),
  * which is what the N vs 4N scaling protocol varies.
  */
object ExtractJob {
  def main(args: Array[String]): Unit = {
    // spark-submit injects spark.master; default to all local cores otherwise
    val spark = graft.Sessions.builder(
        sys.props.getOrElse("spark.master", "local[*]"),
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
      .appName("graft-extract")
      .getOrCreate()
    implicit val s: SparkSession = spark
    import spark.implicits._
    spark.sparkContext.setLogLevel("WARN")

    args.toList match {
      case "gen" :: nDocs :: outDir :: rest =>
        val seed = rest.headOption.map(_.toLong).getOrElse(GenData.DefaultSeed)
        val n = nDocs.toLong
        val t0 = System.nanoTime()
        val out = Extract.runGenerated(n, seed)
        out.write.mode(SaveMode.Overwrite).parquet(outDir)
        val secs = (System.nanoTime() - t0) / 1e9
        val written = Tables.parquet(spark, outDir).count()
        println(f"[extract-job] docs=$written%d wall=$secs%.2fs throughput=${written / secs}%.1f docs/s -> $outDir")
      case "gendata" :: nDocs :: docsDir :: mediaDir :: rest =>
        val seed = rest.headOption.map(_.toLong).getOrElse(GenData.DefaultSeed)
        val (docs, media) = Extract.generate(nDocs.toLong, seed)
        // range partitioning on doc_id at ingest (SURVEY.md §4): media_ref
        // embeds the doc_id so both tables co-locate by range
        docs.repartitionByRange(docs("doc_id")).write.mode(SaveMode.Overwrite).parquet(docsDir)
        media.repartitionByRange(media("media_ref")).write.mode(SaveMode.Overwrite).parquet(mediaDir)
        println(s"[extract-job] wrote ${Tables.parquet(spark, docsDir).count()} docs, " +
          s"${Tables.parquet(spark, mediaDir).count()} media payloads")
      case "run" :: docsDir :: mediaDir :: outDir :: flags =>
        // spark-submit config surface mirroring the reference's constructor/
        // detect kwargs (cn_std.py:44-143): --rotated (rotated_bbox=True, the
        // reference default), --auto-rotate, --angle-clf (use_angle_clf),
        // --dilation (PP use_dilation), --crops (cropped_img digest render),
        // --score-slow (PP score_mode='slow'). No flags = the frozen default
        // (DetectConfig.Default).
        val unknown = flags.filterNot(Set(
          "--rotated", "--auto-rotate", "--angle-clf", "--dilation", "--crops", "--score-slow"))
        require(unknown.isEmpty, s"unknown flags: $unknown")
        val cfg = graft.schema.DetectConfig(
          rotatedBbox = flags.contains("--rotated"),
          autoRotateWholeImage = flags.contains("--auto-rotate"),
          useAngleClf = flags.contains("--angle-clf"),
          useDilation = flags.contains("--dilation"),
          renderCrops = flags.contains("--crops"),
          scoreSlow = flags.contains("--score-slow"))
        val docs = Tables.parquet(spark, docsDir).as[graft.schema.Doc]
        val media = Tables.parquet(spark, mediaDir).as[graft.schema.Media]
        val t0 = System.nanoTime()
        Extract.run(docs, media, cfg).write.mode(SaveMode.Overwrite).parquet(outDir)
        val secs = (System.nanoTime() - t0) / 1e9
        val written = Tables.parquet(spark, outDir).count()
        println(f"[extract-job] docs=$written%d wall=$secs%.2fs throughput=${written / secs}%.1f docs/s cfg=$cfg -> $outDir")
      case "runjson" :: docsDir :: mediaDir :: outDir :: Nil =>
        // S8 text/JSON sink — the analog of the reference's det_results.txt
        // (one line per image: "filename\t<json boxes>",
        // /root/reference/cnstd/ppocr/pp_detector.py:299-330): one line per
        // doc, "doc_id\t<json spans array>", written as text partitions.
        val docs = Tables.parquet(spark, docsDir).as[graft.schema.Doc]
        val media = Tables.parquet(spark, mediaDir).as[graft.schema.Media]
        Extract.run(docs, media).toDF()
          .select(org.apache.spark.sql.functions.concat_ws("\t",
            org.apache.spark.sql.functions.col("doc_id"),
            org.apache.spark.sql.functions.to_json(org.apache.spark.sql.functions.col("spans"))).as("value"))
          .write.mode(SaveMode.Overwrite).text(outDir)
        println(s"[extract-job] json lines -> $outDir (${spark.read.text(outDir).count()} docs)")
      case "stream" :: docsGlob :: outDir :: ckptDir :: rest =>
        val seed = rest.headOption.map(_.toLong).getOrElse(GenData.DefaultSeed)
        val q = graft.streaming.StreamingExtract.start(docsGlob, outDir, ckptDir,
          graft.streaming.StreamingExtract.GeneratedMediaStore(seed))
        q.awaitTermination()
        val n = Tables.parquet(spark, outDir).count()
        println(s"[extract-job] stream drained; total docs in sink: $n")
      case other =>
        System.err.println(s"usage: ExtractJob gen <nDocs> <outDir> [seed] | run <docsDir> <mediaDir> <outDir> [--rotated --auto-rotate --angle-clf --dilation --crops --score-slow] | runjson <docsDir> <mediaDir> <outDir> | stream <docsGlob> <outDir> <ckptDir> [seed] (got: $other)")
        sys.exit(2)
    }
    spark.stop()
  }
}
