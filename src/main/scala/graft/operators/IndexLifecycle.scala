package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.advisor.PlacementAdvisor
import graft.storage.SetCatalog

/** The lifecycle steps every standing index shares, written once. The
  * per-kind functions in [[SimilaritySearch]] (IVF, PQ, IVF-PQ) and
  * [[Dedup]] (semantic, ingest near-dup, LSH, gram, exact, fingerprint)
  * keep their own kernels and set layouts and call in here for the
  * protocol around them: sizing a bucketed set, the staged generation
  * swap, the rows-at-mark sidecar a rebuild policy reads, and the
  * generation-cached model load of a live probe stream.
  */
object IndexLifecycle {

  /** A rows-at-mark sidecar: the one-row `marker` set (one long column
    * named `column`) records how many rows `source` held when the
    * index's derived state was last known good — models trained, a
    * bucket census clean. The rowcount is `source`'s sidecar, so a
    * mark costs one tiny write and no corpus scan.
    */
  private[graft] final case class RowMark(
      source: String, marker: String, column: String)

  /** Rows the vector-family models were last (re)trained over. */
  private[graft] def builtMark(name: String): RowMark =
    RowMark(s"${name}_vectors", s"${name}_built", "rows_at_build")

  /** Band rows the ingest near-dup index held at its last clean census. */
  private[graft] def censusMark(name: String): RowMark =
    RowMark(s"${name}_bands", s"${name}_censused", "rows_at_census")

  private[graft] def markRows(
      catalog: SetCatalog, db: String, mark: RowMark): Unit = {
    val spark = catalog.spark
    import spark.implicits._
    val rows = catalog.meta(db, mark.source).map(_.rows).getOrElse(0L)
    catalog.createSet(db, mark.marker, Seq(rows).toDF(mark.column),
      policy = "none")
  }

  /** Growth of `mark.source` since the mark, (rows_now − rows_then) /
    * rows_then — two sidecar reads, O(1). 0.0 when no mark exists yet
    * (an index opts in at its first rebuild or census).
    */
  private[graft] def growthSinceMark(
      catalog: SetCatalog, db: String, mark: RowMark): Double = {
    val now = catalog.meta(db, mark.source).map(_.rows).getOrElse(0L)
    if (catalog.meta(db, mark.marker).isEmpty) 0.0
    else {
      val base = catalog.scanSet(db, mark.marker).collect()(0).getLong(0)
      if (base <= 0) 0.0 else (now - base).toDouble / base
    }
  }

  /** (staged → live) pairs of a staged generation, in target order. The
    * order names the group's swap marker, so it must not change.
    */
  private[graft] def stagedPairs(
      suffix: String, targets: Seq[String]): Seq[(String, String)] =
    targets.map(t => s"$t$suffix" -> t)

  /** The staged-rebuild protocol every rebuild and recap runs:
    *  1. heal an interrupted earlier swap of the same group
    *     ([[SetCatalog.recoverSwapGroup]]) before anything reads the
    *     live sets;
    *  2. evaluate `stage` — it reads the live sets and returns one
    *     writer per target, in target order;
    *  3. write each target's new generation under `<target><suffix>`
    *     and tag it staging at once, so [[SetCatalog.recoverAll]] may
    *     resolve it;
    *  4. commit all of them as ONE marker group
    *     ([[SetCatalog.swapSetGroup]]) — a crash anywhere leaves the old
    *     generation or the new one, never a mix;
    *  5. stamp `mark`.
    * Searches keep reading the consistent old generation for the whole
    * expensive part (steps 2–3).
    */
  private[graft] def restage(
      catalog: SetCatalog, db: String, suffix: String,
      targets: Seq[String], mark: RowMark)(
      stage: => Seq[String => Unit]): Unit = {
    val pairs = stagedPairs(suffix, targets)
    catalog.recoverSwapGroup(db, pairs)
    val writers = stage
    require(writers.length == pairs.length,
      s"restage: ${writers.length} writers for ${pairs.length} targets")
    pairs.zip(writers).foreach { case ((staged, _), write) =>
      write(staged)
      catalog.markStaging(db, staged)
    }
    catalog.swapSetGroup(db, pairs)
    markRows(catalog, db, mark)
  }

  /** Bucket count of a hash-placed or bucketed index set: an explicit
    * `numBuckets > 0` wins; else the advisor's co-partition-aware rule
    * ([[PlacementAdvisor.recommendBuckets]] for `table`); else the same
    * power-of-two rule without history
    * ([[PlacementAdvisor.bucketCountFor]]). Both auto paths size from
    * `rows`, so a stored layout never encodes the session's
    * shuffle-partition count (that is, the local core count). `rows` is
    * evaluated once, and only on the auto paths — pass a sidecar
    * rowcount or a count over a persisted frame.
    */
  private[graft] def bucketCount(
      numBuckets: Int, advisor: Option[PlacementAdvisor], table: String,
      rows: => Long, targetRowsPerBucket: Long): Int =
    if (numBuckets > 0) numBuckets
    else {
      val n = rows
      advisor.map(_.recommendBuckets(table, n, targetRowsPerBucket))
        .getOrElse(PlacementAdvisor.bucketCountFor(n, targetRowsPerBucket))
    }

  /** Per-batch closure of a live probe stream whose driver-side models
    * (`load`: centroids, codebooks — O(k·d) collects) are cached on the
    * generation stamps of `sets`: reloaded exactly when any stamp moved
    * or is absent, so appends (which leave the model sets alone) cost
    * nothing and a rebuild swap is picked up by the next batch. The
    * data sets are re-planned inside `body`, every batch — that is
    * where appends land. The second result counts model loads.
    */
  private[graft] def generationCached[M](
      catalog: SetCatalog, db: String, sets: Seq[String],
      load: SparkSession => M)(
      body: (DataFrame, M) => DataFrame): (DataFrame => DataFrame, () => Int) = {
    var cached: Option[(Seq[Long], M)] = None
    var loads = 0
    val fn = (batch: DataFrame) => {
      val stamps = sets.map(catalog.metaStamp(db, _))
      val models = cached match {
        case Some((s0, m)) if s0 == stamps && !stamps.contains(0L) => m
        case _ =>
          val m = load(batch.sparkSession)
          cached = Some((stamps, m))
          loads += 1
          m
      }
      body(batch, models)
    }
    (fn, () => loads)
  }
}
