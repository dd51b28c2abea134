package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.Tables
import graft.operators.{Dedup, Multimodal}

/** Stage-level isolated profile of the pipe_media composition — the
  * round-10 adjudication attributed its 1.75→4.9 s shift to the
  * regenerated fixtures feeding more docs through silence-strip into the
  * PNG decode stages, but no committed artifact broke the composition
  * down by stage; this main closes that (VERDICT r10 "What's wrong" #4).
  *
  * Each stage is timed against a MATERIALIZED input (localCheckpoint), so
  * a stage's number is its own work, not its upstream's. Stages mirror
  * `PipelineQueries.pipeMedia` exactly: silence-strip, frame sampling,
  * frame dedup, PNG re-encode, decode+features, SemDeDup pairs, and the
  * final join assembly. Output: one JSON line
  * {"metric":"pipe_media_stages","stages":{...},"total_pipe_media":sec}.
  *
  * Usage: SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 runMain graft.StageProfile
  */
object StageProfile {

  private def timed(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  private def force(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def main(args: Array[String]): Unit = {
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = SparkSession.builder()
      .master(s"local[${Bench.hostCpus}]")
      .appName("graft-stage-profile")
      .config("spark.sql.shuffle.partitions", Bench.hostCpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val stages = scala.collection.mutable.LinkedHashMap[String, Double]()

    // warmup: touch the fixture + scheduler/codegen paths once
    force(Tables.documents(spark, d).limit(100))

    val docs = Tables.documents(spark, d)
    val replayed = docs.select(col("doc_id"), col("text"))
      .unionByName(docs.filter(col("doc_id") < 100)
        .select((col("doc_id") + 10000).as("doc_id"), col("text")))

    // strip: the one pass every branch consumes
    val strippedPlan = Multimodal.stripSilence(Multimodal.withPayload(replayed))
      .filter(col("payload_stripped").isNotNull &&
        length(col("payload_stripped")) > 0)
    var stripped: DataFrame = null
    stages("silence_strip") = timed {
      stripped = strippedPlan.localCheckpoint(true)
    }
    val media = stripped
      .select(col("doc_id"), col("payload_stripped").as("payload"))

    // frame branch
    var frames: DataFrame = null
    stages("frame_sampling") = timed {
      frames = Multimodal.sampleFrames(spark, media).localCheckpoint(true)
    }
    stages("frame_dedup") = timed { force(Multimodal.frameDedup(frames)) }

    // image branch
    var pngs: DataFrame = null
    stages("png_encode") = timed {
      pngs = Multimodal.bytesToPngPayload(media).localCheckpoint(true)
    }
    var feats: DataFrame = null
    stages("decode_features") = timed {
      feats = Multimodal.extractFeatures(spark, pngs, dim = 16,
          decoder = Multimodal.PixelSumDecoder).toDF()
        .select(col("doc_id").as("vec_id"), col("feature").as("embedding"))
        .localCheckpoint(true)
    }
    stages("semantic_pairs") = timed {
      force(Dedup.semanticPairs(feats, "vec_id", "embedding",
        iters = 3, threshold = 0.999))
    }

    // the full compositions, for the assembly overhead by difference:
    // pipe_media (media chains alone), pipe_all (adds the text chains +
    // the per-doc keep join), pipe_all_budget (adds the token-budget
    // sample over the keep=true survivors — the capstone's tail cost is
    // total_pipe_all_budget − total_pipe_all)
    stages("total_pipe_media") = timed {
      force(graft.queries.PipelineQueries.all("pipe_media")(spark, d))
    }
    stages("total_pipe_all") = timed {
      force(graft.queries.PipelineQueries.all("pipe_all")(spark, d))
    }
    stages("total_pipe_all_budget") = timed {
      force(graft.queries.PipelineQueries.all("pipe_all_budget")(spark, d))
    }

    val json = stages.map { case (k, v) => s""""$k":${f"$v%.3f"}""" }.mkString(",")
    println(s"""{"metric":"pipe_media_stages","sf_dir":"$d","stages":{$json}}""")
    spark.stop()
  }
}
