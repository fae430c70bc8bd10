package graft.core

import java.nio.charset.StandardCharsets

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, FileUtil, Path}
import org.apache.parquet.hadoop.Footer
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.graftshim

/** Filesystem helpers over the Hadoop FS API, so every side-file the engine
  * writes (artifacts, tmpsave checkpoints, logs, backups) works the same on
  * local disk, HDFS, or an object store — the reference's equivalents
  * (ref psweep.py:154-185 file/pickle/json IO; 1417-1427 backup) are
  * local-FS-only.
  *
  * Hot paths list with `listStatus` only: a `LocatedFileStatus`
  * (`listFiles`, `listLocatedStatus`) or a `getPermission` call on the
  * local filesystem forks one `ls` process per file.
  *
  * [[parquet]] is the engine's batch Parquet reader: it resolves schemas
  * from a footer cache instead of Spark's inference job, so reading an
  * unchanged input again starts no Spark job, and the first read after
  * an append reads only the new files' footers.
  */
object Fs {

  /** The one Hadoop configuration of the process, built on first use:
    * every `new Configuration()` re-parses `core-default.xml` on its
    * first lookup, which dominated a local helper call. Read-only. */
  lazy val hadoopConf: Configuration = new Configuration()

  def fs(path: String): FileSystem = new Path(path).getFileSystem(hadoopConf)

  def exists(path: String): Boolean = fs(path).exists(new Path(path))

  def mkdirs(path: String): Unit = { fs(path).mkdirs(new Path(path)); () }

  def delete(path: String): Unit = {
    val f = fs(path)
    if (f.exists(new Path(path))) f.delete(new Path(path), true)
    ()
  }

  /** Recursive copy (backup / simulate-sandbox primitive). */
  def copyDir(src: String, dst: String): Unit = {
    val sfs = fs(src); val dfs = fs(dst)
    require(sfs.exists(new Path(src)), s"copy source missing: $src")
    require(!dfs.exists(new Path(dst)), s"copy dest already exists: $dst")
    FileUtil.copy(sfs, new Path(src), dfs, new Path(dst),
      false, false, hadoopConf)
    ()
  }

  /** Atomically create a file, failing if it already exists — the
    * single-writer lock primitive (`create(overwrite=false)` is atomic on
    * local FS and HDFS; object stores without atomic create degrade to
    * best-effort, same caveat as every FS-lock scheme). */
  def createExclusive(path: String, content: String): Boolean = {
    val f = fs(path)
    val p = new Path(path)
    if (p.getParent != null) f.mkdirs(p.getParent)
    try {
      val out = f.create(p, false)
      try out.write(content.getBytes(StandardCharsets.UTF_8))
      finally out.close()
      true
    } catch {
      case _: java.io.IOException => false
    }
  }

  /** Rename `src` to `dst`, failing loudly where Hadoop's `rename` only
    * returns false. */
  def rename(src: String, dst: String): Unit = {
    require(fs(src).rename(new Path(src), new Path(dst)),
      s"rename failed: $src -> $dst")
  }

  def writeString(path: String, content: String): Unit = {
    val f = fs(path)
    val p = new Path(path)
    if (p.getParent != null) f.mkdirs(p.getParent)
    val out = f.create(p, true)
    try out.write(content.getBytes(StandardCharsets.UTF_8))
    finally out.close()
  }

  def readString(path: String): String = {
    val in = fs(path).open(new Path(path))
    try new String(org.apache.commons.io.IOUtils.toByteArray(in),
      StandardCharsets.UTF_8)
    finally in.close()
  }

  /** Names of the immediate children of a directory (empty if missing). */
  def listNames(path: String): Seq[String] = {
    val f = fs(path)
    if (!f.exists(new Path(path))) Seq.empty
    else f.listStatus(new Path(path)).toSeq.map(_.getPath.getName)
  }

  /** `spark.read.parquet(path)`, or with `mergeSchema` the
    * `option("mergeSchema", "true")` read, its schema resolved without
    * Spark's inference job: from the first data file by path, or from
    * all of them merged in path order (Spark's order), each footer
    * converted by Spark's own code under the session's current conf.
    * Footers come from a process-wide cache keyed by (path, length,
    * mtime); uncached ones are read on the driver while there are at
    * most `spark.sql.sources.parallelPartitionDiscovery.threshold`
    * (Spark's own cut between driver-side and distributed listing).
    * Above that (a read still caches that many), with summary files or
    * a streaming file sink's log (Spark reads only the files it lists),
    * an empty listing, a data column named like a partition column, or a
    * failed footer read, this is Spark's own read, with its job and its
    * errors. */
  def parquet(spark: SparkSession, path: String,
              mergeSchema: Boolean = false): DataFrame = {
    val (files, partCols) = parquetFiles(path)
    val merge =
      mergeSchema || spark.sessionState.conf.isParquetSchemaMergingEnabled
    Some(files).filter(fs => fs.nonEmpty &&
        !fs.exists(_.getPath.getName.startsWith("_")) &&
        !exists(s"$path/_spark_metadata"))
      .flatMap(fs => footers(spark, if (merge) fs else fs.take(1)))
      .flatMap(graftshim.schema(spark, _))
      .filterNot(_.fieldNames.exists(f => partCols(f.toLowerCase)))
      .fold(spark.read.option("mergeSchema", merge).parquet(path))(
        spark.read.schema(_).parquet(path))
  }

  /** [[parquet]], or None while `path` is missing or empty. */
  def parquetOpt(spark: SparkSession, path: String): Option[DataFrame] =
    Option.when(listNames(path).nonEmpty)(parquet(spark, path))

  private type FileKey = (String, Long, Long)

  private def key(f: FileStatus): FileKey =
    (f.getPath.toString, f.getLen, f.getModificationTime)

  private val footerCache =
    new java.util.concurrent.ConcurrentHashMap[FileKey, Footer]()

  private val footerReads = new java.util.concurrent.atomic.AtomicLong()

  /** Footers [[parquet]] has read from disk in this process. */
  private[core] def footersRead: Long = footerReads.get

  /** Drop the cached footers of every file under `path`. */
  private[core] def forgetFooters(path: String): Unit = {
    val root = fs(path).makeQualified(new Path(path)).toString
    footerCache.keySet.removeIf(k =>
      k._1 == root || k._1.startsWith(root + "/"))
    ()
  }

  /** The footers of `files` in order (a corrupt one left out under
    * `ignoreCorruptFiles`, as in the inference job); None when reading
    * them fails or more than the threshold are uncached — then the first
    * threshold-many of those are still cached, so repeated reads of a
    * large input warm up to job-free reads. */
  private def footers(spark: SparkSession,
                      files: Seq[FileStatus]): Option[Seq[Footer]] = {
    val hits = files.map(f => f -> Option(footerCache.get(key(f))))
    val missing = hits.collect { case (f, None) => f }
    val threshold =
      spark.sessionState.conf.parallelPartitionDiscoveryThreshold
    try {
      val read = (if (missing.isEmpty) Nil
        else graftshim.footers(spark, missing.take(threshold)))
        .map(ft => ft.getFile.toString -> ft).toMap
      footerReads.addAndGet(read.size.toLong)
      val got = hits.flatMap { case (f, hit) =>
        hit.orElse(read.get(f.getPath.toString)
          .map { ft => footerCache.put(key(f), ft); ft })
      }
      Option.when(missing.size <= threshold)(got)
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** The names Spark's file listing leaves out (summary files aside). */
  private def hidden(name: String): Boolean =
    (name.startsWith(".") || (name.startsWith("_") && !name.contains("=")) ||
      name.endsWith("._COPYING_")) &&
      !name.startsWith("_metadata") && !name.startsWith("_common_metadata")

  /** The files Spark lists under `path`, sorted by path (empty when it is
    * missing or vanishes mid-walk), and the lower-cased partition column
    * names on the way. Drops the cached footers of the files under `path`
    * that this listing no longer holds, so rewrites do not accumulate. */
  private def parquetFiles(path: String): (Seq[FileStatus], Set[String]) = {
    val f = fs(path)
    val partCols = Set.newBuilder[String]
    def walk(st: FileStatus): Seq[FileStatus] =
      if (!st.isDirectory) Seq(st)
      else f.listStatus(st.getPath).toSeq
        .filterNot(c => hidden(c.getPath.getName)).flatMap { c =>
          if (c.isDirectory && c.getPath.getName.contains("="))
            partCols += c.getPath.getName.takeWhile(_ != '=').toLowerCase
          walk(c)
        }
    val files =
      try walk(f.getFileStatus(new Path(path))).sortBy(_.getPath.toString)
      catch { case _: java.io.FileNotFoundException => Seq.empty }
    val root = f.makeQualified(new Path(path)).toString
    val live = files.map(key).toSet
    footerCache.keySet.removeIf(k => !live(k) && (k._1 == root ||
      (k._1.startsWith(root + "/") &&
        !k._1.substring(root.length + 1).split('/').exists(hidden))))
    (files, partCols.result())
  }

  /** Minimal JSON encoding of the engine's value domain (tmpsave
    * checkpoints, oracle dumps). ISO-8601 timestamps, 17-sig-digit doubles
    * (the analog of the reference's `double_precision=15` JSON export,
    * ref psweep.py:465-470). */
  def toJson(v: Any): String = v match {
    case null | None => "null"
    case b: Boolean => b.toString
    case i: Byte => i.toString
    case i: Short => i.toString
    case i: Int => i.toString
    case i: Long => i.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => toJson(f.toDouble)
    case s: String => jsonString(s)
    case t: java.sql.Timestamp => jsonString(t.toInstant.toString)
    case t: java.time.Instant => jsonString(t.toString)
    case d: java.sql.Date => jsonString(d.toString)
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, vv) => (k.toString, vv) }.sortBy(_._1)
        .map { case (k, vv) => jsonString(k) + ":" + toJson(vv) }
        .mkString("{", ",", "}")
    case s: Iterable[_] => s.map(toJson).mkString("[", ",", "]")
    // base64, matching Spark's JSON binary convention (so a
    // schema-carrying JSON read restores BinaryType)
    case b: Array[Byte] =>
      jsonString(java.util.Base64.getEncoder.encodeToString(b))
    case a: Array[_] => toJson(a.toSeq)
    case r: org.apache.spark.sql.Row =>
      toJson(r.schema.fieldNames.zipWithIndex
        .map { case (n, i) => n -> r.get(i) }.toMap)
    case other => jsonString(other.toString)
  }

  def jsonString(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
}
