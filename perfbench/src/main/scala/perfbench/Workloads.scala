package perfbench

import java.io.File
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.unsafe.types.UTF8String

import graft.{PerfbenchHooks, SparkEntry}
import graft.advisor.PlacementAdvisor
import graft.functions.{MinHashAgg, ShingleExpressions, VectorExpressions}
import graft.la.{BlockMatrix, Kernels, MatrixBlock}
import graft.model.Tables
import graft.operators.{Dedup, MlWorkloads, SimilaritySearch}
import graft.storage.SetCatalog

object Workloads {
  def apply(name: String): Workload = name match {
    case "batch" => new Composite(new Olap, new Curate)
    case "ingest_stream" => new IngestStream
    case other => sys.error(s"unknown workload $other")
  }

  /** One registry op: the public query function, then the action that
    * forces every column of its result — a no-op sink write, or in the
    * checking pass a parquet write of the result for the oracle compare.
    */
  def registryOp(ctx: Ctx, name: String): Unit = ctx.op(name, "read") {
    val df = ctx.span("queries.call")(SparkEntry.queries(name)(ctx.spark, ctx.data))
    ctx.span("queries.action") {
      if (ctx.checking)
        df.coalesce(1).write.mode("overwrite").parquet(new File(ctx.checkDir, name).getPath)
      else noop(df)
    }
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Forces `df`; in the checking pass also returns its rows. */
  def force(ctx: Ctx, df: DataFrame): Array[org.apache.spark.sql.Row] =
    if (ctx.checking) df.collect() else { noop(df); Array.empty }
}

/** Runs its parts one after the other, as one workload. */
class Composite(parts: Workload*) extends Workload {
  val registryOps: Seq[String] = parts.flatMap(_.registryOps)
  override def setup(ctx: Ctx): Unit = parts.foreach(_.setup(ctx))
  def pass(ctx: Ctx): Unit = parts.foreach(_.pass(ctx))
  def check(ctx: Ctx): Seq[(String, String)] = parts.flatMap(_.check(ctx))
  override def teardown(ctx: Ctx): Unit = parts.foreach(_.teardown(ctx))
}

/** A workload made only of registry ops. */
class Registry(val registryOps: Seq[String]) extends Workload {
  def pass(ctx: Ctx): Unit = registryOps.foreach(Workloads.registryOp(ctx, _))
  def check(ctx: Ctx): Seq[(String, String)] = Nil
}

/** Dedup, text and ANN registry ops plus direct calls of the shingle,
  * MinHash and dot-product kernels and of the MinHash-LSH pair operator
  * feeding the connected-component operator.
  */
class Curate extends Registry(Seq("dd_exact", "txt_normalize", "sim_ivf_topk")) {
  private var docs, emb, probes: DataFrame = _
  private var nDocs, nEmb = 0L
  private val got = mutable.Map.empty[String, Array[org.apache.spark.sql.Row]]

  override def setup(ctx: Ctx): Unit = {
    docs = Tables.documents(ctx.spark, ctx.data).select("doc_id", "text").cache()
    emb = Tables.embeddings(ctx.spark, ctx.data).select("vec_id", "embedding").cache()
    nDocs = docs.count()
    nEmb = emb.count()
    probes = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("q_id"), col("embedding").as("q")).cache()
    probes.count()
  }

  private def shingleCounts: DataFrame =
    docs.select(col("doc_id"),
      size(ShingleExpressions.wordShinglesNative(col("text"), 2)).as("n"))
  private def signatures: DataFrame =
    docs.select(col("doc_id"),
      explode(ShingleExpressions.wordShinglesNative(col("text"), 2)).as("s"))
      .groupBy("doc_id").agg(MinHashAgg.minhashSig(col("s"), 16).as("sig"))
  private def dots: DataFrame =
    emb.crossJoin(probes).select(col("vec_id"), col("q_id"),
      VectorExpressions.dotNative(col("embedding"), col("q")).as("dot"))

  private def kernelOp(ctx: Ctx, op: String, span: String, rows: Long, df: => DataFrame) =
    ctx.op(op, "read") {
      val out = ctx.span(span)(Workloads.force(ctx, df))
      ctx.kernelRows(span) += rows
      if (ctx.checking) got(op) = out
    }

  override def pass(ctx: Ctx): Unit = {
    super.pass(ctx)
    kernelOp(ctx, "fn_shingles", "functions.shingle", nDocs, shingleCounts)
    kernelOp(ctx, "fn_minhash", "functions.minhash", nDocs, signatures)
    kernelOp(ctx, "fn_dot", "functions.dot", nEmb * 8, dots)
    ctx.op("dedup_clusters", "read") {
      val out = ctx.span("operators.call")(Workloads.force(ctx,
        Dedup.dupClusters(Dedup.minhashPairs(docs, "doc_id", "text"))))
      ctx.gauges("operators.cc_passes") = PerfbenchHooks.ccPasses
      if (ctx.checking) got("dedup_clusters") = out
    }
  }

  /** Each direct call against a driver-side recomputation. */
  override def check(ctx: Ctx): Seq[(String, String)] = {
    val fails = mutable.ArrayBuffer.empty[(String, String)]
    val texts = docs.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    def grams(t: String): Seq[String] =
      t.split(" ", -1).toSeq.sliding(2).filter(_.size == 2).map(_.mkString(" "))
        .toSeq.distinct
    val gotN = got("fn_shingles").map(r => r.getLong(0) -> r.getInt(1)).toMap
    if (gotN != texts.map { case (id, t) => id -> grams(t).size })
      fails += "fn_shingles" -> "shingle counts differ from a plain split"
    def mix(h: Long, i: Int): Long = {
      var z = h + 0x9e3779b97f4a7c15L * (i + 1)
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^ (z >>> 31)
    }
    val gotSig = got("fn_minhash").map(r => r.getLong(0) -> r.getSeq[Long](1).toSeq).toMap
    val wantSig = texts.collect { case (id, t) if grams(t).nonEmpty =>
      val bases = grams(t).map { g =>
        val u = UTF8String.fromString(g)
        XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.numBytes(), 42L)
      }
      id -> (0 until 16).map(i => bases.map(mix(_, i)).min)
    }
    if (gotSig != wantSig) fails += "fn_minhash" -> "signatures differ from a driver-side MinHash"
    val vecs = emb.collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val bad = got("fn_dot").count { r =>
      val (a, b) = (vecs(r.getLong(0)), vecs(r.getLong(1)))
      val want = a.indices.map(i => a(i).toDouble * b(i)).sum
      math.abs(want - r.getDouble(2)) > 1e-9
    }
    if (bad > 0) fails += "fn_dot" -> s"$bad dot products differ from a driver-side sum"
    val sets = texts.map { case (id, t) => id -> grams(t).toSet }.toSeq.sortBy(_._1)
    val wantPairs = sets.tails.flatMap {
      case (a, sa) +: rest if sa.nonEmpty => rest.collect {
        case (b, sb) if {
          val inter = (sa intersect sb).size
          inter.toDouble / (sa.size + sb.size - inter) >= 0.8
        } => (a, b)
      }
      case _ => Nil
    }.toSet
    val parent = mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    wantPairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val wantCc = parent.keys.toSeq.groupBy(find).values
      .flatMap(ms => ms.map(_ -> ms.min)).toSet
    if (got("dedup_clusters").map(r => r.getLong(0) -> r.getLong(1)).toSet != wantCc)
      fails += "dedup_clusters" ->
        "clusters differ from a union-find over exact-Jaccard pairs"
    fails.toSeq
  }
}

/** Standing indexes kept up to date while arrivals stream in. The IVF-PQ
  * index is built at set-up and grows by one small append per pass. Each
  * pass starts a probe stream on it and a near-dup ingest stream on a fresh
  * self-growing LSH index, feeds them batch by batch with an append and a
  * rebuild plus staged swap between the batches, writes an arrival log
  * set, and runs the one-shot st_upsert stream.
  */
class IngestStream extends Workload {
  val registryOps = Seq("st_upsert")
  // Per-op times vary 10-20% from run to run; two passes halve that share.
  override val minPasses = 2
  private val Db = "ix"
  private val Index = "v"
  private val QueryBatch = 10
  private val DocBatch = 20
  private val AppendRows = 20
  private var cat: SetCatalog = _
  private var catRoot: File = _
  private var emb, logRows: DataFrame = _
  private var nEmb = 0L
  private var queries: Seq[Seq[(Long, Seq[Float])]] = _
  private var docs: Seq[(Long, String)] = _
  private var logBytes = 1L
  private var nSession = 0
  private val fails = mutable.ArrayBuffer.empty[(String, String)]

  override def setup(ctx: Ctx): Unit = {
    nSession += 1
    catRoot = new File(ctx.work, s"catalog$nSession")
    SetCatalog.deleteTree(catRoot.toPath)
    cat = new SetCatalog(ctx.spark, catRoot.getPath)
    emb = Tables.embeddings(ctx.spark, ctx.data).select("vec_id", "embedding").cache()
    nEmb = emb.count()
    SimilaritySearch.buildIvfPqIndex(ctx.spark, cat, Db, Index,
      emb.filter(col("vec_id") < nEmb / 2))
    queries = emb.filter(col("vec_id") >= nEmb * 3 / 4).orderBy("vec_id")
      .limit(2 * QueryBatch).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toSeq)).toSeq
      .grouped(QueryBatch).toSeq
    docs = Tables.documents(ctx.spark, ctx.data).orderBy("doc_id")
      .limit(DocBatch).select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    logRows = Tables.events(ctx.spark, ctx.data).limit(2000).cache()
    logRows.count()
    val ref = new File(ctx.work, s"logref$nSession")
    logRows.coalesce(1).write.mode("overwrite").parquet(ref.getPath)
    logBytes = dirBytes(ref)
  }

  private def dirBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.map(dirBytes).sum
    else if (f.getName.endsWith(".parquet")) f.length else 0L

  private def dataFiles(f: File): Int =
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.map(dataFiles).sum
    else if (f.getName.endsWith(".parquet")) 1 else 0

  /** The `p`-th append slice: AppendRows vectors from the third quarter. */
  private def appendSlice(p: Int): DataFrame = {
    val lo = nEmb / 2 + math.floorMod(p * AppendRows, nEmb / 4)
    emb.filter(col("vec_id") >= lo && col("vec_id") < lo + AppendRows)
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).sorted.toSeq

  def pass(ctx: Ctx): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val p = ctx.pass
    val nd = s"nd$p"
    // Each micro-batch's jobs carry the tag of the op that fed it.
    val tag = new java.util.concurrent.atomic.AtomicReference[String]
    def tagged(f: DataFrame => DataFrame): DataFrame => DataFrame = { b =>
      Tags.set(spark.sparkContext, tag.get); f(b)
    }
    val qIn = MemoryStream[(Long, Seq[Float])]
    val dIn = MemoryStream[(Long, String)]
    val (probe, probed) = PerfbenchHooks.startProbe(qIn.toDS().toDF("vec_id", "embedding"),
      tagged(PerfbenchHooks.ivfPqProbeFn(cat, Db, Index, 5)))
    val (ingest, ingested) = PerfbenchHooks.startProbe(dIn.toDS().toDF("doc_id", "text"),
      tagged(b => Dedup.ingestNearDupBatch(b, cat, Db, nd, "doc_id", "text")))
    def feed(q: StreamingQuery)(add: => Unit): Unit = {
      tag.set(ctx.currentTag)
      ctx.span("streaming.batch") { add; q.processAllAvailable() }
    }
    // In the checking pass: the batch search of the generation each probe
    // batch saw, taken right after the batch.
    val expected = mutable.ArrayBuffer.empty[DataFrame]
    def probeBatch(b: Int): Unit = {
      ctx.op("probe_batch", "batch")(feed(probe)(qIn.addData(queries(b): _*)))
      if (ctx.checking) expected += SimilaritySearch.searchIvfPqIndex(spark, cat, Db,
        Index, queries(b).toDF("vec_id", "embedding"), 5).localCheckpoint(true)
    }
    try {
      probeBatch(0)
      ctx.op("neardup_batch", "batch")(feed(ingest)(dIn.addData(docs: _*)))
      ctx.op("index_append", "write") {
        ctx.span("operators.call")(
          SimilaritySearch.appendToIvfPqIndex(spark, cat, Db, Index, appendSlice(p)))
      }
      probeBatch(1)
      ctx.op("advisor", "control") {
        ctx.span("advisor.call") {
          new PlacementAdvisor().recommendSemGeometry(Index, nEmb)
          PlacementAdvisor.bucketCountFor(nEmb)
        }
      }
      ctx.op("index_rebuild_swap", "write") {
        ctx.span("operators.call")(SimilaritySearch.rebuildIvfPqIndex(spark, cat, Db, Index))
      }
    } finally {
      probe.stop(); ingest.stop()
    }
    if (ctx.checking) {
      if (rows(probed()) != rows(expected.reduce(_ unionByName _)))
        fails += "probe_batch" -> "stream probe differs from the batch search"
      val once = Dedup.ingestNearDupBatch(docs.toDF("doc_id", "text"),
        cat, Db, s"${nd}_once", "doc_id", "text")
      if (rows(ingested()) != rows(once))
        fails += "neardup_batch" -> "stream ingest differs from one batch ingest"
    }
    val log = s"log$p"
    ctx.op("set_create", "write") {
      ctx.span("storage.create")(cat.createSet(Db, log, logRows))
    }
    ctx.op("set_append", "write") {
      ctx.span("storage.append")(cat.appendToSet(Db, log, logRows))
    }
    ctx.op("set_swap", "write") {
      cat.createSet(Db, s"${log}_next", logRows)
      cat.markStaging(Db, s"${log}_next")
      ctx.span("storage.swap")(cat.swapSet(Db, s"${log}_next", log))
    }
    ctx.op("set_scan", "read") {
      val n = ctx.span("storage.scan")(Workloads.force(ctx, cat.scanSet(Db, log))).length
      if (ctx.checking && n != logRows.count())
        fails += "set_scan" -> s"scan after the swap gave $n rows, not ${logRows.count()}"
    }
    ctx.gauges("storage.files_per_set") =
      dataFiles(catRoot).toDouble / math.max(1, cat.listSets().size)
    ctx.gauges("storage.bytes_per_user_byte") =
      dirBytes(new File(catRoot, s"$Db.$log")).toDouble / logBytes
    registryOps.foreach(Workloads.registryOp(ctx, _))
    ctx.op("cleanup", "control") {
      cat.listSets().filter { case (d, s) => d == Db && !s.startsWith(Index) }
        .foreach { case (d, s) => cat.removeSet(d, s) }
    }
  }

  def check(ctx: Ctx): Seq[(String, String)] = fails.toSeq

  override def teardown(ctx: Ctx): Unit = SetCatalog.deleteTree(catRoot.toPath)
}

/** The reference's batch claims: TPC-H and relational registry ops (scan,
  * aggregate, multi-way and skewed joins, windows) plus the LA shapes (gram,
  * L2 fit, multiply, block matmul) on a dense X of 1000 columns in
  * 1000x1000 blocks.
  */
class Olap extends Registry(Seq("q1_pricing_summary", "q3_shipping_priority",
    "q6_revenue", "op_skew_join", "op_window_rank")) {
  private val Cols = 1000
  private var x, b, y: BlockMatrix = _
  private var blockA, blockB: MatrixBlock = _
  private var product: Array[Double] = _

  override def setup(ctx: Ctx): Unit = {
    val f = new File(ctx.data, "la_x.f64")
    val buf = ByteBuffer.wrap(Files.readAllBytes(f.toPath)).order(ByteOrder.LITTLE_ENDIAN)
    val local = new Array[Double](buf.remaining / 8)
    buf.asDoubleBuffer().get(local)
    val rows = local.length / Cols
    val spark = ctx.spark
    x = BlockMatrix.fromLocal(spark, local, rows, Cols, 1000, 1000)
    x.blocks.cache().count()
    b = BlockMatrix.fromLocal(spark, local.take(Cols * Cols), Cols, Cols, 1000, 1000)
    b.blocks.cache().count()
    val yl = Array.tabulate(rows)(i =>
      (0 until Cols).map(j => local(i * Cols + j) * ((j % 7) - 3) / 10.0).sum)
    y = BlockMatrix.fromLocal(spark, yl, rows, 1, 1000, 1000)
    y.blocks.cache().count()
    blockA = MatrixBlock(0, 0, Cols, Cols, local.take(Cols * Cols))
    blockB = MatrixBlock(0, 0, Cols, Cols, local.takeRight(Cols * Cols))
  }

  /** Forces `m`; in the checking pass also writes it for the numpy compare. */
  private def laOp(ctx: Ctx, name: String, span: String)(m: => BlockMatrix): Unit =
    ctx.op(name, "read") {
      ctx.span(span) {
        if (!ctx.checking) Workloads.noop(m.blocks.toDF())
        else {
          val a = m.toLocal()
          val bb = ByteBuffer.allocate(a.length * 8).order(ByteOrder.LITTLE_ENDIAN)
          bb.asDoubleBuffer().put(a)
          ctx.checkDir.mkdirs()
          Files.write(new File(ctx.checkDir, s"$name.f64").toPath, bb.array())
        }
      }
    }

  override def pass(ctx: Ctx): Unit = {
    super.pass(ctx)
    laOp(ctx, "la_gram", "la.gram")(x.gram)
    laOp(ctx, "la_l2", "la.l2")(MlWorkloads.l2Fit(x, y))
    laOp(ctx, "la_multiply", "la.multiply")(x.multiply(b))
    ctx.op("la_kernel_matmul", "read") {
      val c = ctx.span("la.matmul")(Kernels.matmul(blockA, blockB))
      ctx.kernelRows("la.matmul") += 2L * Cols * Cols * Cols
      if (ctx.checking) product = c
    }
  }

  /** Sampled entries of the local block product against driver-side dots;
    * the distributed LA results are compared with numpy by the runner.
    */
  override def check(ctx: Ctx): Seq[(String, String)] = {
    val rnd = new scala.util.Random(7)
    val bad = (0 until 2000).count { _ =>
      val (i, j) = (rnd.nextInt(Cols), rnd.nextInt(Cols))
      val want = (0 until Cols).map(k => blockA.data(i * Cols + k) * blockB.data(k * Cols + j)).sum
      math.abs(want - product(i * Cols + j)) > 1e-9 * math.max(1.0, math.abs(want))
    }
    if (bad > 0) Seq("la_kernel_matmul" -> s"$bad sampled entries differ from a driver-side dot")
    else Nil
  }
}
