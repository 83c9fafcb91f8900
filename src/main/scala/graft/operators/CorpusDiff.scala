package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Corpus snapshot diffing — release auditing for a living training
  * corpus: between crawl N and crawl N+1, which documents were ADDED,
  * REMOVED, or CHANGED (same id, different content)? The answer gates
  * incremental reprocessing (only added/changed docs re-enter the
  * cleaning pipeline; removed ids retire from indexes) and catches
  * silent upstream regressions (a 30% `removed` spike between releases
  * is an incident, not a diff).
  *
  * Scale shape: each side collapses to (id, 16-byte md5) in its scan —
  * the join exchanges HASHES, never text (the [[Dedup]] exchange
  * discipline), so diffing two 100 TB snapshots moves 2 x corpus-count
  * x 24-byte rows through one key shuffle.
  */
object CorpusDiff {

  /** Per-document status between two snapshots:
    * (idCol, status ∈ added|removed|changed|unchanged). `added` =
    * only in `neu`, `removed` = only in `old`, `changed` = same id,
    * different `textCol` content (by md5).
    */
  def diff(old: DataFrame, neu: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val o = old.select(col(idCol), md5(col(textCol)).as("__oh"))
    val n = neu.select(col(idCol), md5(col(textCol)).as("__nh"))
    o.join(n, Seq(idCol), "full")
      .select(col(idCol),
        when(col("__oh").isNull, "added")
          .when(col("__nh").isNull, "removed")
          .when(col("__oh") =!= col("__nh"), "changed")
          .otherwise("unchanged").as("status"))
  }
}
