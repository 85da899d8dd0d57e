package graft.sources

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** The one way the engine opens a parquet input.
  *
  * A plain `spark.read.parquet(path)` infers the schema by reading footers in
  * a one-task Spark job (`SchemaMergeUtils.mergeSchemasInParallel`), and an
  * operator that opens its inputs on every call pays that job every call,
  * where a read given its schema runs no job (TablesSpec counts both). On a
  * query path bound by job dispatch that job is a large share of the wall
  * time. Here the inference runs once — Spark's own, `spark.read.parquet(
  * paths).schema`, so no schema is hard-coded (under a user-given schema
  * Spark would read a column the files lack as nulls, silently) — and every
  * read, hit or miss, is `spark.read.schema(s).parquet(paths)`.
  *
  * The memo is keyed on
  *  - the session, so inference that depends on session conf stays exact
  *    (a `newSession()` infers on its own; a conf change inside one session
  *    that alters inference is not seen — open a new session for it), and
  *  - the paths with a fingerprint of their leaf files (name, length, mtime),
  *    taken on every read, so a path rewritten in place is inferred anew.
  *
  * Each (session, paths) keeps only its latest fingerprint, so the memo
  * holds one schema per input per live session.
  */
object Tables {

  private final case class Entry(fingerprint: Seq[(String, Long, Long)], schema: StructType)

  private val memo =
    new java.util.WeakHashMap[SparkSession, ConcurrentHashMap[Seq[String], Entry]]()

  /** `spark.read.parquet(paths: _*)`, with the schema inferred once per
    * session and per version of the files.
    */
  def parquet(spark: SparkSession, paths: String*): DataFrame = {
    val fp = fingerprint(spark, paths)
    val bySession = memo.synchronized(memo.computeIfAbsent(spark, _ => new ConcurrentHashMap()))
    val schema = Option(bySession.get(paths)).filter(_.fingerprint == fp).map(_.schema)
      .getOrElse {
        val s = spark.read.parquet(paths: _*).schema
        bySession.put(paths, Entry(fp, s))
        s
      }
    spark.read.schema(schema).parquet(paths: _*)
  }

  /** The `name` table of a scale-factor dir (`dir/name.parquet`). */
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    parquet(spark, s"$dir/$name.parquet")

  /** The `documents` table of a scale-factor dir. */
  def docs(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "documents")

  /** (file, length, mtime) of every leaf file under `paths` (globs expanded),
    * sorted; a path that matches nothing contributes no entry, and
    * its read fails in Spark exactly as a plain read would.
    *
    * The walk reads plain `listStatus` entries, not `fs.listFiles`: that
    * builds a `LocatedFileStatus` per file, whose constructor loads the
    * file's permissions, and on the local file system without Hadoop's
    * native library that starts one `ls -ld` process per file, on every read.
    */
  private def fingerprint(spark: SparkSession, paths: Seq[String]): Seq[(String, Long, Long)] =
    paths.flatMap { p =>
      val path = new Path(p)
      val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
      def leaves(st: FileStatus): Seq[FileStatus] =
        if (st.isDirectory) fs.listStatus(st.getPath).toSeq.flatMap(leaves) else Seq(st)
      Option(fs.globStatus(path)).toSeq.flatten.flatMap(leaves)
        .map(f => (f.getPath.toString, f.getLen, f.getModificationTime))
    }.sorted
}
