package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery
import graft.operators.{Dedup, SimilaritySearch}
import graft.storage.SetCatalog

/** The package-private members the perfbench harness reads or drives.
  *
  * Everything else the harness calls is public. These are reached through
  * one object so the list stays visible: the live probe harness (a
  * standing foreachBatch query fed batch by batch), its IVF-PQ probe
  * function, and two counters (connected-component passes of the last
  * `dupClusters`, and the sample prefilter's attempts and hits).
  */
object PerfbenchHooks {
  def startProbe(stream: DataFrame, perBatch: DataFrame => DataFrame)
      : (StreamingQuery, () => DataFrame) =
    Dedup.startProbe(stream, perBatch, None)

  def ivfPqProbeFn(cat: SetCatalog, db: String, name: String, k: Int)
      : DataFrame => DataFrame =
    SimilaritySearch.ivfPqSearchProbeFn(cat, db, name, k)

  def ccPasses: Int = Dedup.lastCcPasses

  def prefilterAttempts: Long = SimilaritySearch.samplePrefilterAttempts.get()
  def prefilterHits: Long = SimilaritySearch.samplePrefilterHits.get()
}
