package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.model.Tables
import graft.operators.{Dedup, SimilaritySearch}
import graft.storage.SetCatalog

/** Pins the ON-DISK layout of every standing-index kind through its
  * whole lifecycle (build → append → rebuild/recap): which sets exist,
  * each set's column names and types as a reader sees them, its
  * partition or bucket columns and layout policy, and that no set is
  * left tagged as a staging generation. An index persisted by one
  * engine version must stay readable by the next, so any drift here is
  * a format change, never a refactor detail.
  */
class IndexLayoutSpec extends GraftSpecBase {

  private lazy val emb = Tables.embeddings(spark, sfDir)

  /** set -> "policy[partitionColumn] col:type,..." for every set in `db`,
    * failing on a missing sidecar or a leftover staging tag.
    */
  private def layout(cat: SetCatalog, db: String): Map[String, String] =
    cat.listSets().collect { case (`db`, set) =>
      val m = cat.meta(db, set).getOrElse(fail(s"$db.$set has no sidecar"))
      assert(!m.staging, s"$db.$set is still marked as staging")
      val cols = cat.scanSet(db, set).schema.fields
        .map(f => s"${f.name}:${f.dataType.simpleString}").mkString(",")
      set -> s"${m.policy}[${m.partitionColumn.getOrElse("")}] $cols"
    }.toMap

  private def withCatalog(prefix: String)(body: SetCatalog => Unit): Unit = {
    val root = Files.createTempDirectory(prefix)
    try body(new SetCatalog(spark, root.toString))
    finally SetCatalog.deleteTree(root)
  }

  private val vectorsDirpart =
    "dirpart[bucket] neighbor_id:bigint,n_vec:array<float>,n_nrm:double,bucket:int"
  private val vectorsHash =
    "hash[neighbor_id] neighbor_id:bigint,n_vec:array<float>,n_nrm:double"
  private val routedCentroids =
    "none[] bucket:bigint,centroid:array<double>,route_threshold_2048:boolean"
  private val built = "none[] rows_at_build:bigint"
  private val codebooks =
    "none[] sub:int,centroid:bigint,components:array<double>"

  private val ivfLayout = Map(
    "ix_centroids" -> routedCentroids,
    "ix_vectors" -> vectorsDirpart,
    "ix_built" -> built)

  test("IVF index layout is stable across build, append and rebuild") {
    withCatalog("graft-layout-ivf") { cat =>
      SimilaritySearch.buildIvfIndex(spark, cat, "t", "ix",
        emb.filter(col("vec_id") < 150))
      assert(layout(cat, "t") == ivfLayout)
      SimilaritySearch.appendToIvfIndex(spark, cat, "t", "ix",
        emb.filter(col("vec_id") >= 150))
      assert(layout(cat, "t") == ivfLayout)
      SimilaritySearch.rebuildIvfIndex(spark, cat, "t", "ix")
      assert(layout(cat, "t") == ivfLayout)
    }
  }

  test("semantic index layout is stable across build, append and rebuild") {
    withCatalog("graft-layout-sem") { cat =>
      Dedup.persistSemanticIndex(cat, "t", "ix",
        emb.filter(col("vec_id") < 150), "vec_id", "embedding")
      assert(layout(cat, "t") == ivfLayout)
      Dedup.appendToSemanticIndex(cat, "t", "ix",
        emb.filter(col("vec_id") >= 150), "vec_id", "embedding")
      assert(layout(cat, "t") == ivfLayout)
      Dedup.rebuildSemanticIndex(cat, "t", "ix")
      assert(layout(cat, "t") == ivfLayout)
    }
  }

  test("PQ index layout is stable across build, append and rebuild") {
    val pqLayout = Map(
      "ix_codebooks" -> codebooks,
      "ix_codes" -> "hash[neighbor_id] neighbor_id:bigint,codes:array<int>",
      "ix_vectors" -> vectorsHash,
      "ix_built" -> built)
    withCatalog("graft-layout-pq") { cat =>
      SimilaritySearch.buildPqIndex(spark, cat, "t", "ix",
        emb.filter(col("vec_id") < 150))
      assert(layout(cat, "t") == pqLayout)
      SimilaritySearch.appendToPqIndex(spark, cat, "t", "ix",
        emb.filter(col("vec_id") >= 150))
      assert(layout(cat, "t") == pqLayout)
      SimilaritySearch.rebuildPqIndex(spark, cat, "t", "ix")
      assert(layout(cat, "t") == pqLayout)
    }
  }

  test("IVF-PQ index layout is stable across build, append and rebuild") {
    // IVF-PQ centroids carry no routing marker: assignment stays the
    // flat argmin at every codebook size
    val ivfPqLayout = Map(
      "ix_centroids" -> "none[] bucket:bigint,centroid:array<double>",
      "ix_codebooks" -> codebooks,
      "ix_codes" ->
        "dirpart[bucket] neighbor_id:bigint,codes:array<int>,bucket:int",
      "ix_vectors" -> vectorsHash,
      "ix_built" -> built)
    withCatalog("graft-layout-ivfpq") { cat =>
      SimilaritySearch.buildIvfPqIndex(spark, cat, "t", "ix",
        emb.filter(col("vec_id") < 150))
      assert(layout(cat, "t") == ivfPqLayout)
      SimilaritySearch.appendToIvfPqIndex(spark, cat, "t", "ix",
        emb.filter(col("vec_id") >= 150))
      assert(layout(cat, "t") == ivfPqLayout)
      SimilaritySearch.rebuildIvfPqIndex(spark, cat, "t", "ix")
      assert(layout(cat, "t") == ivfPqLayout)
    }
  }

  test("ingest near-dup index layout is stable across first batch, append and recap") {
    val docs = Tables.documents(spark, sfDir)
    val ingest = Map(
      "ix_sets" -> "hash[id] id:bigint,ws:array<string>",
      "ix_bands" -> "hash[bkey] id:bigint,band:int,bkey:bigint")
    withCatalog("graft-layout-ind") { cat =>
      Dedup.ingestNearDupBatch(docs.filter(col("doc_id") < 25), cat, "t",
        "ix", "doc_id", "text").collect()
      assert(layout(cat, "t") == ingest)
      Dedup.ingestNearDupBatch(docs.filter(col("doc_id") >= 25), cat, "t",
        "ix", "doc_id", "text").collect()
      assert(layout(cat, "t") == ingest)
      // the recap's hot-bucket anti-join leads with its join keys, so
      // the recapped band set stores (band, bkey, id); readers select
      // by name
      Dedup.recapIngestNearDupIndex(cat, "t", "ix")
      assert(layout(cat, "t") == ingest ++ Map(
        "ix_bands" -> "hash[bkey] band:int,bkey:bigint,id:bigint",
        "ix_censused" -> "none[] rows_at_census:bigint"))
    }
  }
}
