package graft.ops

import graft.core.Fs

/** Applied-batch journal for APPEND-shaped indexes (the span-dedup
  * count table), where a per-batch swap-rewrite would turn a bounded
  * append into a corpus-sized rewrite. Tables that ARE rewritten per
  * batch keep their ledger inside the swapped directory instead
  * ([[graft.core.Fold.swap]] — atomic with the data). */
private[ops] object IncrementalLedger {

  private def journalDir(indexPath: String): String = s"$indexPath.__applied"

  private def enc(id: String): String =
    java.net.URLEncoder.encode(id, "UTF-8")

  /** Batch ids recorded in the side journal of an append-shaped index
    * (one empty marker file per id — bounded by batch count, read as a
    * driver-side listing). UNLIKE the in-directory ledger, the journal
    * is not atomic with the index append: a crash between an append
    * and its record replays that one batch (the bm25 stats-row
    * discipline — the window is one file-create wide); every recorded
    * batch stays dedup'd as long as the journal lives beside the
    * index. */
  def journalIds(indexPath: String): Set[String] = {
    val d = journalDir(indexPath)
    if (!Fs.exists(d)) Set.empty
    else Fs.listNames(d)
      .map(n => java.net.URLDecoder.decode(n, "UTF-8")).toSet
  }

  /** Record `batchId` as applied (call AFTER the index append lands). */
  def journalRecord(indexPath: String, batchId: String): Unit = {
    Fs.mkdirs(journalDir(indexPath))
    Fs.writeString(s"${journalDir(indexPath)}/${enc(batchId)}", "")
  }
}
