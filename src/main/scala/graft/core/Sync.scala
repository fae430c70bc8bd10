package graft.core

import org.apache.hadoop.fs.{FileUtil, Path}

/** Calc-dir pull/push between any two Hadoop-visible locations — the
  * engine's analog of the reference's rsync wrappers (ref
  * bin/psweep-pull:52-77, bin/psweep-push:5-24). The documented deviation
  * stands: transport is the shared/remote filesystem (file://, hdfs://,
  * s3a://), not ssh+rsync — but the RULE semantics are honored: exclude
  * patterns load from the same rule files the reference picks up
  * (`excl_pull`/`excl_push`/`rsync.exclude` in the study dir) and follow
  * rsync's matching rules for the supported subset:
  *
  *   - a pattern without `/` matches the basename at any depth,
  *   - a pattern with `/` matches against the path relative to the
  *     transfer root (leading `/` anchors it there),
  *   - a trailing `/` restricts the pattern to directories,
  *   - `*` matches within one path segment, `**` across segments, `?`
  *     one character; blank lines and `#` comments are ignored.
  *
  * Like rsync's quick check, a file is skipped when the destination has
  * the same length and an mtime at least as new; `dryRun` lists decisions
  * without copying.
  */
object Sync {

  /** One parsed exclude rule. `pathRule` = the pattern body contains a
    * `/` (after stripping the dir-only suffix / anchor prefix), so it
    * matches against the full relative path; otherwise against the
    * basename at any depth. */
  final case class Rule(pattern: String, dirOnly: Boolean, anchored: Boolean,
                        pathRule: Boolean,
                        regex: scala.util.matching.Regex) {
    def matches(relPath: String, isDir: Boolean): Boolean = {
      if (dirOnly && !isDir) return false
      if (anchored || pathRule) regex.matches(relPath)
      else relPath.split("/").exists(seg => regex.matches(seg))
    }
  }

  private[core] def compileRule(raw: String): Rule = {
    val dirOnly = raw.endsWith("/")
    val anchored = raw.startsWith("/")
    val body = raw.stripSuffix("/").stripPrefix("/")
    val sb = new StringBuilder
    var i = 0
    while (i < body.length) {
      body(i) match {
        case '*' if i + 1 < body.length && body(i + 1) == '*' =>
          sb.append(".*"); i += 1
        case '*' => sb.append("[^/]*")
        case '?' => sb.append("[^/]")
        case c if "\\.[]{}()+-^$|".indexOf(c) >= 0 => sb.append('\\').append(c)
        case c => sb.append(c)
      }
      i += 1
    }
    Rule(raw, dirOnly, anchored, body.contains("/"), sb.toString.r)
  }

  /** Parse rule text: one pattern per line, `#` comments and blanks
    * skipped. */
  def parseRules(text: String): Seq[Rule] =
    text.linesIterator.map(_.trim)
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .map(compileRule).toSeq

  /** Load exclude rules from the first existing of `names` under `dir`
    * (the reference checks `excl_pull`/`excl_push` then `rsync.exclude`,
    * accumulating all that exist). */
  def loadRules(dir: String, names: Seq[String]): Seq[Rule] =
    names.flatMap { n =>
      val p = s"$dir/$n"
      if (Fs.exists(p)) parseRules(Fs.readString(p)) else Seq.empty
    }

  /** Recursive tree copy src -> dst honoring exclude rules. Returns the
    * relative paths copied (files only); with `dryRun` nothing is written.
    */
  def copyTree(src: String, dst: String, rules: Seq[Rule],
               dryRun: Boolean = false): Seq[String] = {
    val sfs = Fs.fs(src)
    val dfs = Fs.fs(dst)
    val srcRoot = new Path(src)
    require(sfs.exists(srcRoot), s"sync source missing: $src")
    val copied = scala.collection.mutable.ArrayBuffer[String]()

    def walk(p: Path, rel: String): Unit = {
      val st = sfs.getFileStatus(p)
      val isDir = st.isDirectory
      if (rel.nonEmpty && rules.exists(_.matches(rel, isDir))) return
      val target = new Path(if (rel.isEmpty) dst else s"$dst/$rel")
      if (isDir) {
        if (!dryRun) dfs.mkdirs(target)
        sfs.listStatus(p).sortBy(_.getPath.getName).foreach { c =>
          val crel = if (rel.isEmpty) c.getPath.getName
                     else s"$rel/${c.getPath.getName}"
          walk(c.getPath, crel)
        }
      } else {
        // rsync-style quick check: same size + destination not older
        val skip = dfs.exists(target) && {
          val dstSt = dfs.getFileStatus(target)
          dstSt.getLen == st.getLen &&
            dstSt.getModificationTime >= st.getModificationTime
        }
        if (!skip) {
          if (!dryRun)
            FileUtil.copy(sfs, p, dfs, target, false, true, Fs.hadoopConf)
          copied += rel
        }
      }
    }
    walk(srcRoot, "")
    copied.toSeq
  }

  /** Pull `remoteStudyDir/calc` into `localStudyDir/calc`; exclude rules
    * come from `excl_pull` / `rsync.exclude` in the LOCAL study dir (the
    * reference reads them from the invoking cwd). */
  def pull(remoteStudyDir: String, localStudyDir: String,
           calcName: String = "calc", dryRun: Boolean = false): Seq[String] =
    copyTree(s"$remoteStudyDir/$calcName", s"$localStudyDir/$calcName",
      loadRules(localStudyDir, Seq("excl_pull", "rsync.exclude")), dryRun)

  /** Push `localStudyDir/calc` to `remoteStudyDir/calc`; rules from
    * `excl_push` / `rsync.exclude` in the local study dir. */
  def push(localStudyDir: String, remoteStudyDir: String,
           calcName: String = "calc", dryRun: Boolean = false): Seq[String] =
    copyTree(s"$localStudyDir/$calcName", s"$remoteStudyDir/$calcName",
      loadRules(localStudyDir, Seq("excl_push", "rsync.exclude")), dryRun)
}
