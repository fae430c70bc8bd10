package graft.core

/** Column-kind convention of the engine (mirrors the reference's
  * load-bearing name convention, see /root/reference/src/psweep/psweep.py:192-205
  * and 877-898): names starting with `_` are bookkeeping ("prefix" kind),
  * names ending with `_` are results ("postfix" kind), everything else is a
  * parameter ("pset" kind).
  */
object ColKind extends Enumeration {
  val Pset, Prefix, Postfix = Value

  def of(name: String): ColKind.Value =
    if (name.startsWith("_")) Prefix
    else if (name.endsWith("_")) Postfix
    else Pset

  def isPset(name: String): Boolean = of(name) == Pset
  def isPrefix(name: String): Boolean = of(name) == Prefix

  /** Select column names of one kind, preserving input order
    * (ref psweep.py:877-898 `filter_cols`). */
  def filterCols(cols: Seq[String], kind: ColKind.Value): Seq[String] =
    cols.filter(c => of(c) == kind)

  /** The hashed subset of a pset's keys (ref psweep.py:208-270:
    * prefix/postfix columns are excluded from the hash by default;
    * the skip flags widen the hashed set when disabled). */
  def hashedCols(cols: Seq[String], skipPrefix: Boolean = true,
                 skipPostfix: Boolean = true): Seq[String] =
    cols.filter { c =>
      val k = of(c)
      (k != Prefix || !skipPrefix) && (k != Postfix || !skipPostfix)
    }
}
